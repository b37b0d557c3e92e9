"""Deduplication operators for document corpora, designed scale-first:

- ``exact_dedup``          — hash-groupBy; one shuffle keyed by content hash.
- ``minhash_signatures``   — k-permutation MinHash over word shingles; map-side
  only (explode → groupBy(doc) min-agg) so the shuffle carries one row per doc.
- ``lsh_candidate_pairs``  — banded LSH: equi-join on (band, band_key) buckets;
  no pairwise blowup outside colliding buckets — the 100 TB-safe path.
- ``simhash``              — 60-bit sign-of-sum fingerprint; hamming-ball
  candidate pairs via chunk banding (``simhash_pairs``).
- ``ngram_jaccard_pairs``  — exact Jaccard via shingle equi-join (the
  verification stage after LSH candidates, or standalone at small scale).

All computations are JVM built-ins (no Python UDFs); MinHash uses
h_i(x) = (a_i·x + b_i) mod P over 60-bit shingle ints, P = 2^31-1, with
x reduced mod P first so products stay inside 63 bits.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from enterprise_iot_bigdata_pipeline_spark.functions.text import (
    shingle_to_int,
    word_shingles,
    words,
)

MERSENNE_P = 2_147_483_647  # 2^31 - 1


def minhash_params(k: int = 16, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs shared with the oracle-SQL generator."""
    rnd = random.Random(seed)
    return [(rnd.randrange(1, MERSENNE_P), rnd.randrange(0, MERSENNE_P)) for _ in range(k)]


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical content by md5; keep the smallest id as survivor."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


from enterprise_iot_bigdata_pipeline_spark.plans.tables import fan_out as _fan_out


def _exploded_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    return _fan_out(df).select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    )


def _minhash_minima_udf(k: int, seed: int):
    """Arrow-batched k-permutation minima over per-doc shingle-int arrays.

    All docs' shingles concatenate into one flat int64 vector per batch;
    each permutation is one vectorized ``(a·x + b) mod p`` pass plus a
    ``minimum.reduceat`` segment-min — replacing k interpreted
    higher-order-function passes per row. Pure int64 modular arithmetic:
    values are bit-identical to the JVM/oracle formulation (no floats
    anywhere). Products stay < 2^62 (a, x < p = 2^31−1), so int64 never
    overflows. Empty docs yield the same ``p`` sentinel the SQL
    ``coalesce`` emits."""
    import numpy as np
    import pandas as pd

    params = minhash_params(k, seed)

    def _mins(xs):
        arrs = xs.to_numpy()
        lens = np.array([len(a) for a in arrs], dtype=np.int64)
        starts = np.zeros(len(arrs), dtype=np.int64)
        if len(arrs) > 1:
            np.cumsum(lens[:-1], out=starts[1:])
        out = np.full((len(arrs), k), MERSENNE_P, dtype=np.int64)
        nonempty = lens > 0
        if nonempty.any():
            big = np.concatenate(
                [np.asarray(a, dtype=np.int64) for a in arrs if len(a)]
            )
            # starts of nonempty rows are strictly increasing, and empty
            # rows contribute no elements — reduceat segments line up.
            ne_starts = np.zeros(int(nonempty.sum()), dtype=np.int64)
            np.cumsum(lens[nonempty][:-1], out=ne_starts[1:])
            for j, (a, b) in enumerate(params):
                h = (a * big + b) % MERSENNE_P
                out[nonempty, j] = np.minimum.reduceat(h, ne_starts)
        return pd.Series(list(out))

    _mins.__annotations__ = {"xs": pd.Series, "return": pd.Series}
    return F.pandas_udf(_mins, "array<long>")


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, k: int = 16, seed: int = 42, n: int = 3
) -> DataFrame:
    """One row per doc with columns h0..h{k-1} (the MinHash signature).

    Shingling and fingerprinting stay JVM-side (regex split, md5, mod);
    the k permutation minima ride ``_minhash_minima_udf`` — one Arrow
    transfer of the shingle-int arrays, k vectorized modmul+segment-min
    passes, bit-identical int64 results. Entirely map-side — no explode,
    no shuffle; the first shuffle in the MinHash pipeline is the
    band-bucket groupBy.
    """
    xs = F.transform(
        word_shingles(F.col(text_col), n),
        lambda s: shingle_to_int(s) % F.lit(MERSENNE_P),
    )
    base = _fan_out(df).select(F.col(id_col).alias("doc"), xs.alias("xs"))
    udf = _minhash_minima_udf(k, seed)
    return base.select("doc", udf(F.col("xs")).alias("hs")).select(
        "doc", *[F.col("hs")[i].alias(f"h{i}") for i in range(k)]
    )


def _pairs_of_sorted(sorted_docs: "F.Column") -> "F.Column":
    """All (a < b) pairs from an ALREADY-SORTED member array —
    array<struct<a,b>>. Callers sort once upstream: codegen's
    subexpression elimination does not reliably dedupe lambda-bearing
    trees, so repeating ``array_sort`` inside this expression would sort
    the bucket once per reference."""
    return F.flatten(
        F.transform(
            sorted_docs,
            lambda x, i: F.transform(
                F.slice(sorted_docs, i + 2, F.size(sorted_docs)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


# (No array_sort-wrapping helper here on purpose: passing
# `_pairs_of_sorted(F.array_sort(docs))` captures the SORT EXPRESSION
# inside the expansion lambdas, and Spark re-evaluates a captured
# expression per element — the bucket would re-sort once per member,
# O(s² log s). Sort inside the upstream aggregate instead so the lambda
# captures a plain attribute.)


DEFAULT_MAX_BUCKET = 1024


def bucket_pairs_capped(
    bucketed: DataFrame, bucket_cols: list[str], max_bucket: int = DEFAULT_MAX_BUCKET
) -> DataFrame:
    """Skew-proof in-bucket pair expansion: ``bucketed`` has one row per
    (bucket, member) with the member in column ``m``; returns one row per
    candidate pair ``(a, b)`` with a < b.

    Buckets of ≤ ``max_bucket`` members expand to all s(s-1)/2 pairs —
    output bounded by the cap. A hot bucket (boilerplate, empty docs,
    adversarial near-identical floods: s(s-1)/2 would be an OOM/straggler
    in one task) instead emits a STAR — every member paired with the
    bucket's minimum member. Linear output, still fully connects the
    bucket for clustering (``connected_components`` resolves the same
    components); only exact pair enumeration inside hot buckets is
    sacrificed, which is the standard cap in large-scale LSH dedup.

    The plan stays a single hash-agg shuffle — the cap is a conditional
    expression over the collected member array, so normal corpora pay
    nothing (two-pass probe/window designs measured 1.3–1.9× slower on
    the LSH bench queries from recomputing or sorting the bucketed
    frame). The per-group buffer is linear in bucket size (member ids,
    not pairs; ObjectHashAggregate falls back to sort-based spilling
    under pressure) — the quadratic-output expansion was the scale
    killer, and that is what the cap removes.
    """
    grouped = (
        bucketed.groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_set("m")).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    ms = F.col("ms")
    star = F.transform(
        F.slice(ms, 2, F.size(ms)),
        lambda y: F.struct(F.element_at(ms, 1).alias("a"), y.alias("b")),
    )
    pairs = F.when(F.size("ms") <= max_bucket, _pairs_of_sorted(ms)).otherwise(star)
    return grouped.select(F.explode(pairs).alias("p"))


def lsh_candidate_pairs(
    signatures: DataFrame, k: int = 16, bands: int = 4, max_bucket: int = DEFAULT_MAX_BUCKET
) -> DataFrame:
    """Banded LSH over a MinHash signature frame → distinct candidate pairs
    (doc_a < doc_b). Collision key = md5 of the band's concatenated rows.

    Pair generation is groupBy-bucket + in-bucket pair expansion, capped at
    ``max_bucket`` members per bucket (hot buckets fall back to a star —
    see ``bucket_pairs_capped``) — a shuffle keyed by (band, key) that no
    single skewed key can turn into an OOM/straggler.

    Unlike signed-projection LSH (where bucket count is fixed at 2^planes
    and must grow with the corpus — see ``similarity.resolve_planes``),
    band keys here are 128-bit md5 of the band's signature rows: random
    collisions are negligible at any corpus size, so candidate volume
    tracks GENUINE near-duplicate mass, not n²/buckets. Corpus growth
    therefore doesn't require re-tuning (k, bands); those stay the
    recall/threshold knobs (s-curve (1/bands)^(bands/k)), and duplicate
    floods are what the ``max_bucket`` star cap bounds.
    """
    if bands < 1 or bands > k or k % bands:
        # silently dropping trailing hashes (k % bands != 0) changes recall
        # with no warning, and bands > k would give EVERY doc the md5('')
        # band key — the whole corpus in one star-expanded bucket
        raise ValueError(
            f"lsh_candidate_pairs: bands={bands} must divide k={k} "
            "(1 ≤ bands ≤ k)"
        )
    rows_per_band = k // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *[c.cast("string") for c in cols])).alias("key"),
            )
        )
    bucketed = signatures.select(
        F.col("doc").alias("m"), F.explode(F.array(*band_cols)).alias("bk")
    ).select("m", "bk.band", "bk.key")
    return (
        bucket_pairs_capped(bucketed, ["band", "key"], max_bucket)
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard ≥ threshold via equi-join on shingles.

    Co-partitioned by shingle: the only pairs materialized are those
    sharing at least one shingle (plus a per-doc size dimension, reused
    twice — broadcast at small dim, shuffle-join at scale).
    """
    sh = _exploded_shingles(df, text_col, id_col, n)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    common = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_set("doc")).alias("docs"))
        .filter(F.size("docs") >= 2)
        .select(F.explode(_pairs_of_sorted(F.col("docs"))).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "jaccard")
    )


SIMHASH_BITS = 60


def _simhash_fold_udf():
    """Arrow-batched SimHash fold over per-doc word-hash arrays.

    All docs' word hashes concatenate into one flat int64 vector per
    batch; each of the 60 bit planes is one vectorized shift/mask pass
    plus an ``add.reduceat`` segment-sum — the ``_minhash_minima_udf``
    pattern. Pure int64 arithmetic, bit-identical to the SQL fold: bit j
    of the fingerprint is set iff Σ_words (±1 by bit j) ≥ 0, i.e.
    2·popcount_j ≥ n_words. The previous JVM form (nested
    aggregate/zip_with lambdas carrying 60 counters per word) generated
    an expression tree whose re-compilation alone cost multiple seconds
    whenever the codegen cache had been evicted between runs — the
    kernel's plan footprint is one ArrowEvalPython node instead.
    """
    import numpy as np
    import pandas as pd

    full = (1 << SIMHASH_BITS) - 1  # empty fold: every s_j = 0 ≥ 0

    def _fold(xs):
        arrs = xs.to_numpy()
        isnull = np.array([a is None for a in arrs])
        lens = np.array(
            [0 if a is None else len(a) for a in arrs], dtype=np.int64
        )
        out = np.full(len(arrs), full, dtype=np.int64)
        nonempty = lens > 0
        if nonempty.any():
            big = np.concatenate(
                [np.asarray(a, dtype=np.int64) for a in arrs if a is not None and len(a)]
            )
            ne_starts = np.zeros(int(nonempty.sum()), dtype=np.int64)
            np.cumsum(lens[nonempty][:-1], out=ne_starts[1:])
            n_words = lens[nonempty]
            sim = np.zeros(int(nonempty.sum()), dtype=np.int64)
            for j in range(SIMHASH_BITS):
                cnt = np.add.reduceat((big >> j) & 1, ne_starts)
                sim |= (2 * cnt >= n_words).astype(np.int64) << j
            out[nonempty] = sim
        if isnull.any():  # NULL words array (NULL text) → NULL fingerprint
            res = out.astype(object)
            res[isnull] = None
            return pd.Series(res)
        return pd.Series(out)

    _fold.__annotations__ = {"xs": pd.Series, "return": pd.Series}
    return F.pandas_udf(_fold, "long")


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """60-bit SimHash over whitespace tokens (with multiplicity): bit j is
    the sign of Σ_words (±1 by bit j of the word's 60-bit md5 int).

    Tokenizing and hashing stay JVM-side (shared tokenizer — Java ``\\s``
    includes vertical tab, RE2's/DuckDB's does not, so ``words()`` spells
    the class out); the 60-plane fold rides ``_simhash_fold_udf`` — one
    Arrow transfer of the word-hash arrays, map-side only, no explode, no
    shuffle.
    """
    xs = F.transform(words(F.col(text_col)), lambda w: shingle_to_int(w))
    return _fan_out(df).select(
        F.col(id_col).alias("doc"), _simhash_fold_udf()(xs).alias("simhash")
    )


def simhash_pairs(
    sims: DataFrame, max_hamming: int = 6, chunks: int = 4, max_bucket: int = DEFAULT_MAX_BUCKET
) -> DataFrame:
    """Near-dup candidates: pairs agreeing on ≥1 of ``chunks`` 15-bit chunks
    (pigeonhole guarantees recall for hamming ≤ chunks-1), verified by
    exact hamming distance ≤ max_hamming. Hot chunks fall back to star
    expansion (``bucket_pairs_capped``)."""
    width = SIMHASH_BITS // chunks
    chunk_cols = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.expr(f"(simhash >> {c * width}) & {(1 << width) - 1}").alias("key"),
        )
        for c in range(chunks)
    ]
    # Carry (doc, simhash) into the bucket so hamming is computable from the
    # pair itself — no join back to the fingerprint frame.
    bucketed = sims.select(
        F.struct(F.col("doc"), F.col("simhash")).alias("m"),
        F.explode(F.array(*chunk_cols)).alias("ck"),
    ).select("m", "ck.chunk", "ck.key")
    pairs = bucket_pairs_capped(bucketed, ["chunk", "key"], max_bucket).select(
        F.col("p.a.doc").alias("doc_a"),
        F.col("p.b.doc").alias("doc_b"),
        F.expr("bit_count(p.a.simhash ^ p.b.simhash)").cast("int").alias("hamming"),
    )
    return pairs.distinct().filter(F.col("hamming") <= max_hamming)


def incremental_exact_dedup(
    spark,
    new_docs: DataFrame,
    index_path: str,
    text_col: str,
    id_col: str,
    epoch_id: int | None = None,
) -> DataFrame:
    """Continuous-ingest dedup: dedup a NEW batch against the corpus seen
    so far, using a persisted fingerprint index — the pattern a training-
    data pipeline runs on every ingest cycle instead of re-deduping 100 TB
    from scratch.

    The index holds (fingerprint, keep_id, added_epoch) only — content
    hashes, not content — so it is a small fraction of corpus size; the
    novelty check is a left-anti equi-join on fingerprint. The advanced
    index publishes via ``commitlog.overwrite_atomic``.

    Crash-safety of the returned novel set: each index row records the
    epoch that introduced it, so the novel set is PART of the same atomic
    rename that commits the epoch marker — there is no window where the
    epoch is committed but the batch's novel docs are unrecoverable. A
    replayed epoch (at-least-once ``foreachBatch``, or a downstream sink
    that crashed before committing) re-derives the SAME novel frame from
    the index's ``added_epoch`` rows instead of returning empty, so the
    caller's sink can simply retry its write.

    Returns the batch's globally novel docs (min-id survivor per
    fingerprint within the batch). The novel set is localCheckpoint-ed
    before the index swap — its lineage reads the OLD index, which the
    swap replaces.
    """
    from enterprise_iot_bigdata_pipeline_spark.operators.commitlog import (
        committed_epoch,
        overwrite_atomic,
        path_exists,
    )

    def _with_epoch_col(df: DataFrame) -> DataFrame:
        if "added_epoch" in df.columns:
            return df
        return df.withColumn("added_epoch", F.lit(None).cast("long"))

    if epoch_id is not None:
        last = committed_epoch(spark, index_path)
        if last is not None and int(epoch_id) <= last:
            # Replayed batch: the index already contains this epoch's rows —
            # reproduce the novel frame from them (idempotent, loss-free).
            replay_keeps = (
                _with_epoch_col(spark.read.parquet(index_path))
                .filter(F.col("added_epoch") == int(epoch_id))
                .select(F.col("keep_id").alias(id_col))
            )
            return new_docs.join(replay_keeps, id_col, "left_semi")
    epoch_lit = F.lit(int(epoch_id)).cast("long") if epoch_id is not None else F.lit(None).cast("long")
    batch = new_docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("fingerprint")
    )
    survivors = batch.groupBy("fingerprint").agg(F.min(id_col).alias("keep_id"))
    if path_exists(spark, index_path):
        known = _with_epoch_col(spark.read.parquet(index_path))
        fresh = (
            survivors.join(known.select("fingerprint"), "fingerprint", "left_anti")
            .withColumn("added_epoch", epoch_lit)
            .localCheckpoint()
        )
        overwrite_atomic(spark, known.unionByName(fresh), index_path, epoch_id=epoch_id)
    else:
        fresh = survivors.withColumn("added_epoch", epoch_lit).localCheckpoint()
        overwrite_atomic(spark, fresh, index_path, epoch_id=epoch_id)
    return new_docs.join(
        fresh.select(F.col("keep_id").alias(id_col)), id_col, "left_semi"
    )


def _band_keys(signatures: DataFrame, k: int, bands: int, id_col: str = "doc") -> DataFrame:
    """Explode a MinHash signature frame to one row per (doc, band, key)."""
    rows_per_band = k // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *[c.cast("string") for c in cols])).alias("key"),
            )
        )
    return signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, "bk.band", "bk.key")


def incremental_minhash_dedup(
    spark,
    new_docs: DataFrame,
    index_path: str,
    text_col: str,
    id_col: str,
    k: int = 16,
    bands: int = 4,
    epoch_id: int | None = None,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Continuous-ingest NEAR-dup dedup: drop new docs whose MinHash band
    buckets collide with the corpus seen so far, using a persisted LSH
    bucket index — ``incremental_exact_dedup``'s sibling for the fuzzy
    case (boilerplate re-crawls, lightly-edited reposts), the other half
    of what a 100 TB training-data ingest runs per cycle.

    The index holds one row per (band, key, keep_id, added_epoch) of every
    KEPT doc — k/bands rows per survivor, content-free and corpus-
    fraction-sized. Per batch:

    1. signatures + band keys for the batch (map-side, one scan);
    2. cross-batch check: any band-key hit against the index ⇒ near-dup
       of an already-kept doc ⇒ dropped (semi-join on (band, key));
    3. in-batch resolution: LSH candidate pairs (capped buckets) →
       connected components → keep each cluster's min id;
    4. survivors' band keys union into the index via the same atomic
       swap + ``added_epoch`` replay contract as the exact variant — a
       replayed epoch re-derives the identical kept frame, so downstream
       sinks retry losslessly.

    Recall/precision note: band-collision ⇒ drop is the high-recall
    policy (standard for crawl dedup); pair verification only applies
    within the batch. Tune with (k, bands) as usual.

    Lifetime: with ``epoch_id`` given (a replayed epoch too), the returned
    frame is a lazy semi-join that reads the COMMITTED index at
    ``index_path``. Consume it before the next ``overwrite_atomic`` on
    ``index_path`` (the next epoch's call): that swap deletes the files it
    reads. Without ``epoch_id`` the kept set is checkpointed instead.
    """
    from enterprise_iot_bigdata_pipeline_spark.operators.commitlog import (
        committed_epoch,
        overwrite_atomic,
        path_exists,
    )

    def _with_epoch_col(df: DataFrame) -> DataFrame:
        if "added_epoch" in df.columns:
            return df
        return df.withColumn("added_epoch", F.lit(None).cast("long"))

    if epoch_id is not None:
        last = committed_epoch(spark, index_path)
        if last is not None and int(epoch_id) <= last:
            replay_keeps = (
                _with_epoch_col(spark.read.parquet(index_path))
                .filter(F.col("added_epoch") == int(epoch_id))
                .select(F.col("keep_id").alias(id_col))
                .distinct()
            )
            return new_docs.join(replay_keeps, id_col, "left_semi")

    sigs = minhash_signatures(new_docs, text_col, id_col, k)
    keys = _band_keys(sigs, k, bands).localCheckpoint()

    if path_exists(spark, index_path):
        known = _with_epoch_col(spark.read.parquet(index_path))
        hit_docs = (
            keys.join(known.select("band", "key"), ["band", "key"], "left_semi")
            .select("doc")
            .distinct()
        )
        novel_keys = keys.join(hit_docs, "doc", "left_anti")
    else:
        known = None
        novel_keys = keys

    # in-batch near-dup resolution among the cross-batch-novel docs:
    # capped bucket pairs → components → min-id survivor per cluster
    bucketed = novel_keys.select(F.col("doc").alias("m"), "band", "key")
    pairs = bucket_pairs_capped(bucketed, ["band", "key"], max_bucket).select(
        F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b")
    ).distinct()
    clustered = connected_components(pairs)
    dropped_in_batch = clustered.filter(F.col("doc") != F.col("component")).select("doc")
    kept = (
        novel_keys.select("doc").distinct()
        .join(dropped_in_batch, "doc", "left_anti")
    )

    epoch_lit = (
        F.lit(int(epoch_id)).cast("long") if epoch_id is not None else F.lit(None).cast("long")
    )
    fresh = (
        keys.join(kept, "doc", "left_semi")
        .select("band", "key", F.col("doc").alias("keep_id"))
        .withColumn("added_epoch", epoch_lit)
    )
    if epoch_id is not None:
        # r13 (§2.4/§5): the index swap's parquet write already
        # materializes `fresh` (tagged with this epoch), so the kept frame
        # is recovered from the COMMITTED index by ``added_epoch`` instead
        # of paying a separate localCheckpoint job — byte-for-byte the
        # same frame the replay branch above re-derives, which is the
        # contract's own proof of the readback identity. (The checkpoint
        # below remains for the un-epoched call shape, whose index rows
        # carry NULL added_epoch and cannot be told apart after the swap.)
        if known is not None:
            overwrite_atomic(
                spark, known.unionByName(fresh), index_path, epoch_id=epoch_id
            )
        else:
            overwrite_atomic(spark, fresh, index_path, epoch_id=epoch_id)
        committed_keeps = (
            _with_epoch_col(spark.read.parquet(index_path))
            .filter(F.col("added_epoch") == int(epoch_id))
            .select(F.col("keep_id").alias(id_col))
            .distinct()
        )
        return new_docs.join(committed_keeps, id_col, "left_semi")
    fresh = fresh.localCheckpoint()
    if known is not None:
        overwrite_atomic(spark, known.unionByName(fresh), index_path, epoch_id=epoch_id)
    else:
        overwrite_atomic(spark, fresh, index_path, epoch_id=epoch_id)
    return new_docs.join(
        fresh.select(F.col("keep_id").alias(id_col)).distinct(), id_col, "left_semi"
    )


def _ckpt_leaf(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` + rebuild as a fresh leaf WITHOUT origin stats.

    ``Dataset.localCheckpoint`` carries the origin plan's size estimate
    into the ``LogicalRDD`` leaf. In an iterative self-join loop those
    estimates MULTIPLY every round (join size = left × right, so the
    estimate's bit-length doubles per join) until the BigInteger stats
    arithmetic itself OOMs the driver — long before any real data would.
    Rebuilding the frame from the checkpointed InternalRow RDD resets the
    estimate to the scan default while reusing the materialized blocks
    (no recompute, JVM-side only — rows never cross into Python)."""
    ck = df.localCheckpoint()
    try:
        jdf = ck._jdf
        spark = ck.sparkSession
        clean = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(clean, spark)
    except Exception as exc:
        # private-API drift (internalCreateDataFrame is not public API): a
        # Spark upgrade must not degrade to the stats-blowup behavior this
        # function exists to prevent, so the fallback is a temp-parquet
        # round-trip — a PUBLIC-API leaf with scan-default stats. Slower
        # (disk write per iteration instead of reusing the checkpoint's
        # block-manager rows) but CORRECT at any Spark version; the warn
        # keeps the degradation visible so the fast path gets re-ported.
        import warnings

        warnings.warn(
            "_ckpt_leaf: internalCreateDataFrame unavailable "
            f"({type(exc).__name__}); falling back to a temp-parquet "
            "round-trip leaf (correct stats reset, extra disk I/O per "
            "iteration) — re-port the fast path for this Spark version",
            RuntimeWarning,
            stacklevel=2,
        )
        return _ckpt_leaf_fallback(ck)


# Directories written by _ckpt_leaf_fallback, deleted at interpreter
# exit (the leaf must outlive every lazy consumer of the returned frame,
# so per-call deletion is impossible; relying on an OS temp reaper is
# not — most distros never reap /tmp between boots). Entries are
# (kind, path, deleter): the deleter for a shared dir is a Hadoop
# FileSystem delete CAPTURED AT REGISTRATION TIME — at atexit the app
# has usually called spark.stop() and SparkSession.getActiveSession()
# is None, but the py4j gateway JVM outlives the context, so a handle
# taken while the session was alive still works (r11 ADVICE: resolving
# the session at cleanup time silently leaked every shared leaf).
_LEAF_DIRS: list[tuple[str, str, object]] = []
_LEAF_ATEXIT = False


def _cleanup_leaf_dirs() -> None:
    import shutil

    for kind, path, deleter in _LEAF_DIRS:
        if kind == "local":
            shutil.rmtree(path, ignore_errors=True)
        elif deleter is not None:
            try:
                deleter()
            except Exception:  # noqa: BLE001 — best-effort at shutdown
                pass
    _LEAF_DIRS.clear()


def _register_leaf_dir(kind: str, path: str, deleter=None) -> None:
    global _LEAF_ATEXIT
    if not _LEAF_ATEXIT:
        import atexit

        atexit.register(_cleanup_leaf_dirs)
        _LEAF_ATEXIT = True
    _LEAF_DIRS.append((kind, path, deleter))


def _shared_dir_deleter(spark, path: str):
    """A zero-arg recursive-delete closure over JVM handles resolved NOW,
    while the session is alive; never raises at build time (cleanup is
    best-effort, the write itself already succeeded)."""
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return lambda: fs.delete(hpath, True)
    except Exception:  # noqa: BLE001
        return None


def _ckpt_leaf_fallback(df: DataFrame) -> DataFrame:
    """Public-API stats-reset leaf: write to a parquet directory and read
    it back. The directory must be VISIBLE TO EVERY EXECUTOR — on a
    non-local master a driver-local temp path would have executors write
    part files to their own machines and the read-back silently return
    partial data (loss, not an error). So: the session's checkpoint dir
    when one is set (shared by contract), a driver-local tempdir only
    under a local master, and a hard error otherwise. Directories are
    registered for atexit cleanup."""
    spark = df.sparkSession
    sc = spark.sparkContext
    try:
        ck_dir = sc.getCheckpointDir()
    except Exception:  # noqa: BLE001 — older API surface
        ck_dir = None
    kind, path = _leaf_target(ck_dir, sc.master)
    df.write.mode("overwrite").parquet(path)
    deleter = _shared_dir_deleter(spark, path) if kind == "shared" else None
    _register_leaf_dir(kind, path, deleter)
    return spark.read.parquet(path)


def _leaf_target(ck_dir: str | None, master: str | None) -> tuple[str, str]:
    """(kind, path) for a fallback leaf, or raise when no executor-visible
    location exists (non-local master without a checkpoint dir)."""
    import tempfile
    import uuid

    if ck_dir:
        return "shared", ck_dir.rstrip("/") + f"/ckpt_leaf_{uuid.uuid4().hex}"
    if (master or "").startswith("local"):
        return "local", tempfile.mkdtemp(prefix="ckpt_leaf_")
    raise RuntimeError(
        "_ckpt_leaf fallback needs a SHARED directory under master "
        f"{master!r}: a driver-local temp path would silently lose "
        "executor-written rows on read-back — call "
        "spark.sparkContext.setCheckpointDir(<shared path>) first"
    )


# The small-graph fixpoints size their distributed loop from the actual
# edge count: one partition per this many edge rows, capped at the
# session's shuffle-partition count. ~2M narrow id-pair rows is well under
# 100 MB a partition — the guide's reduce-partition sizing band — while
# keeping a few-hundred-edge graph on ONE task.
_CC_ROWS_PER_PART = 2_000_000

# Spark id types the one-task edge kernel accepts → their pyarrow alias.
_ARROW_INT_IDS = {"tinyint": "int8", "smallint": "int16", "int": "int32", "bigint": "int64"}


def _small_graph_fixpoint(
    edges: DataFrame,
    names: tuple[str, str],
    solve,
    distributed,
    local_max_edges: int | None = None,
) -> DataFrame:
    """Measured-size dispatch shared by the iterate-to-fixpoint graph
    operators (``connected_components``, the k-core peel in plans/graph).

    ``edges`` is a two-column id-pair frame, both columns of one id type.
    It is staged once as a ``_ckpt_leaf`` with its row count observed on
    that checkpoint job (r13 §1.5: ``CollectMetrics`` runs inside the
    materialization pass, so the count costs no probe job). Then:

    - the whole graph fits one partition (``n_edges <= local_max_edges``,
      default ``_CC_ROWS_PER_PART`` — the sizing under which every round
      of the distributed loop would already run as 1-task stages) and the
      ids are integral: ONE ``coalesce(1).mapInArrow`` task relabels the
      edges to node indices with ``np.unique`` and runs
      ``solve(n_nodes, iu, iv) -> (ia, ib)``, a vectorized numpy solver
      over index arrays; the index pairs it returns map back to node ids,
      cast to the id type, as columns ``names``. This replaces the loop's
      ~2–3 driver-scheduled jobs per round (broadcast builds, checkpoint,
      metrics: 40–80 ms of scheduling each for microsecond compute) with
      one task (r13 §2.2). An empty graph yields a typed empty batch;
    - otherwise — a graph above the threshold (a post-LSH pair graph at
      100 TB can be), or any non-integral id type, which the int64 kernel
      cannot relabel — ``distributed(staged, n_edges, parts)`` runs the
      caller's Spark loop, which accepts any orderable id. ``parts`` sizes
      its hash partitioning from the edge count (r12): a session-constant
      shuffle width would pin every round of a few-hundred-edge graph to
      dozens of near-empty tasks locally, thousands on a cluster.

    Both paths compute the same fixpoint; ``local_max_edges`` exists so
    tests can pin them against each other."""
    from pyspark.sql import Observation

    obs = Observation()
    staged = _ckpt_leaf(edges.observe(obs, F.count(F.lit(1)).alias("n")))
    n_edges = int(obs.get["n"])
    id_t = staged.schema.fields[0].dataType.simpleString()
    alias = _ARROW_INT_IDS.get(id_t)
    if local_max_edges is None:
        local_max_edges = _CC_ROWS_PER_PART
    if n_edges <= local_max_edges and alias is not None:

        def kernel(batches):
            import numpy as np
            import pyarrow as pa

            cols = ([], [])
            for b in batches:
                for acc, col in zip(cols, b.columns):
                    acc.append(col.to_numpy(zero_copy_only=False))
            u, v = (
                np.concatenate(acc).astype(np.int64, copy=False)
                if acc
                else np.empty(0, dtype=np.int64)
                for acc in cols
            )
            nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
            ia, ib = solve(nodes.size, inv[: u.size], inv[u.size :]) if u.size else (inv, inv)
            out_t = pa.type_for_alias(alias)
            yield pa.RecordBatch.from_arrays(
                [pa.array(nodes[ia]).cast(out_t), pa.array(nodes[ib]).cast(out_t)],
                names=list(names),
            )

        return staged.coalesce(1).mapInArrow(kernel, f"{names[0]} {id_t}, {names[1]} {id_t}")
    shuffle_parts = int(staged.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    parts = max(1, min(shuffle_parts, -(-n_edges // _CC_ROWS_PER_PART)))
    return distributed(staged, n_edges, parts)


def _cc_solve(n_nodes, iu, iv):
    """Min-label connected components over node indices: the same
    Shiloach–Vishkin algebra as ``connected_components``' distributed loop
    (hook every node to the minimum neighbor label, then pointer-jump
    ``label ← label[label]`` to fixpoint), vectorized. Labels are node
    indices and ``np.unique`` sorts ascending, so the minimum index is the
    minimum doc id — exactly the survivor rule."""
    import numpy as np

    lab = np.arange(n_nodes, dtype=np.int64)
    while True:
        prev = lab
        new = lab.copy()
        np.minimum.at(new, iu, lab[iv])
        np.minimum.at(new, iv, lab[iu])
        lab = new
        while True:  # pointer-jump path compression to fixpoint
            nl = lab[lab]
            if np.array_equal(nl, lab):
                break
            lab = nl
        if np.array_equal(lab, prev):
            return np.arange(n_nodes), lab


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
    local_max_edges: int | None = None,
) -> DataFrame:
    """Resolve candidate pairs into duplicate clusters: (doc, component)
    where component = min doc id reachable through the pair graph — the
    canonical survivor of each near-dup cluster. Ids may be of any
    orderable type; a graph that fits one partition with integral ids is
    solved in one Arrow task (``_small_graph_fixpoint``), any other graph
    by the distributed loop below.

    The Shiloach–Vishkin shape — each outer round HOOKS at tree level
    (aggregate the minimum neighbor-label per current ROOT, so an entire
    label tree adopts the smallest label any of its members can see across
    any edge) then fully PATH-COMPRESSES (label(v) ← label(label(v))
    iterated to fixpoint, doubling pointer depth per jump). Hooking by
    root is what makes rounds logarithmic: trees merge with adjacent trees
    wholesale, so the tree count at least halves per round — a
    diameter-200 chain converges in ~7 rounds where plain min-propagation
    needs 200 (and per-NODE hooking stalls at a linear tail of a few
    stubborn stars). Exhausting ``max_iter`` raises instead of silently
    returning partial components.

    Cost discipline: edges are hash-partitioned by ``src`` once and cached
    (InMemoryRelation preserves the partitioning, so the hook join
    re-shuffles only the much smaller label frame); jump steps touch ONLY
    the label frame (no edge join). Every produced label frame is
    ``localCheckpoint``-ed: the jump self-joins its input — without a leaf
    there the logical plan would DOUBLE per iteration (rendering it OOMs a
    1 GiB driver after ~10 rounds), and checkpointing keeps every plan
    constant-depth. The hook and jump convergence flags ride those
    checkpoint jobs via ``observe`` instead of a probe job per round.
    Duplicate input pairs are tolerated (min-aggregation is idempotent).
    """
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst")).union(
        pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    )
    return _small_graph_fixpoint(
        edges,
        ("doc", "component"),
        _cc_solve,
        lambda staged, n_edges, parts: _cc_loop(staged, parts, max_iter),
        local_max_edges,
    )


def _cc_loop(staged: DataFrame, parts: int, max_iter: int) -> DataFrame:
    """``connected_components``' distributed hook/compress loop over the
    staged (src, dst) edge leaf, hash-partitioned ``parts`` wide."""
    from pyspark.sql import Observation

    edges = staged.repartition(parts, "src").persist()
    labels = _ckpt_leaf(
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .withColumn("label", F.col("doc"))
        .repartition(parts, "doc")
    )
    try:
        for _ in range(max_iter):
            # hook, tree-level: the min label flowing into ANY member of a
            # tree updates the whole tree. (1) each edge delivers the
            # source's label to dst; (2) attach dst's current root;
            # (3) min per root; (4) every node whose label IS that root
            # adopts the root's new minimum in the same join.
            root_min = (
                edges.join(labels, edges.src == labels.doc)
                .select("dst", F.col("label").alias("nbr_label"))
                .join(
                    labels.select(F.col("doc").alias("dst"), F.col("label").alias("root")),
                    "dst",
                )
                .groupBy("root")
                .agg(F.min("nbr_label").alias("rmin"))
            )
            obs_hook = Observation()
            stepped = _ckpt_leaf(
                labels.join(root_min, labels.label == root_min.root, "left")
                .select(
                    "doc",
                    F.col("label").alias("label0"),
                    F.least(
                        F.col("label"), F.coalesce(F.col("rmin"), F.col("label"))
                    ).alias("label1"),
                )
                # convergence flag rides the checkpoint job (max over an
                # empty frame is NULL → falsy → converged, same as the
                # old limit(1).count() probe on an empty frame)
                .observe(
                    obs_hook,
                    F.max(F.col("label1") < F.col("label0")).alias("improved"),
                )
            )
            improved = bool(obs_hook.get["improved"])
            if not improved:
                # hook fixpoint ⇒ no tree sees a smaller label across any
                # edge, and last round's compression already flattened the
                # trees — converged, skip the jump loop entirely
                return stepped.select("doc", F.col("label1").alias("component"))
            cur = stepped.select("doc", F.col("label1").alias("label"))
            # compress: label ← label(label) until fixpoint (pointer depth
            # halves per jump, so this inner loop is O(log depth))
            while True:
                jump = cur.select(F.col("doc").alias("jdoc"), F.col("label").alias("jlabel"))
                obs_jump = Observation()
                nxt = _ckpt_leaf(
                    cur.join(jump, cur.label == jump.jdoc, "left")
                    .select(
                        "doc",
                        F.least(
                            F.col("label"), F.coalesce(F.col("jlabel"), F.col("label"))
                        ).alias("label"),
                        (F.coalesce(F.col("jlabel"), F.col("label")) < F.col("label")).alias(
                            "_jumped"
                        ),
                    )
                    .observe(obs_jump, F.max("_jumped").alias("jumped"))
                )
                jumped = bool(obs_jump.get["jumped"])
                cur = nxt.select("doc", "label")
                if not jumped:
                    break
            labels = cur
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} hook+compress "
            "rounds — raise max_iter or check the pair graph for anomalies"
        )
    finally:
        edges.unpersist()


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    threshold: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-overlap decontamination: flag corpus documents sharing
    ≥ ``threshold`` distinct word ``n``-gram shingles with ANY benchmark
    document (the training-data hygiene step that keeps eval suites out of
    the corpus; reference has no analog — pipeline breadth op).

    Scale shape: the benchmark side is tiny by construction (eval suites
    are thousands of docs, not billions), so its distinct-shingle set
    BROADCASTS and the corpus side is filtered map-side by the hash join —
    only matching (doc, shingle) rows reach the per-doc count shuffle.
    Returns every corpus doc: (id, n_shared_shingles, contaminated).
    """

    def shingled(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
        )

    bench_sh = shingled(benchmark).select("shingle").distinct()
    # word_shingles is per-doc distinct, bench_sh is distinct → each
    # (doc, shingle) survives the join at most once; plain count is exact.
    hits = (
        shingled(docs)
        .join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count("shingle").alias("n_shared"))
    )
    shared = F.coalesce(F.col("n_shared"), F.lit(0)).cast("long")
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            shared.alias("n_shared_shingles"),
            (shared >= threshold).alias("contaminated"),
        )
    )


def duplicate_ngram_coverage(
    docs: DataFrame,
    n: int = 3,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicate n-gram coverage (the RefinedWeb/Gopher-style
    cross-document repetition signal): the fraction of a doc's distinct
    word ``n``-gram shingles that occur in ≥ ``min_docs`` documents
    corpus-wide. High coverage marks boilerplate/templated text that
    per-doc metrics can't see.

    Scale shape: two hash shuffles, both linear — a shingle-keyed count
    (map-side partial combine; shingles are per-doc distinct so the count
    IS document frequency) and the doc-keyed final agg. The frequency
    frame joins back shingle-keyed (one row per distinct shingle — already
    aggregated, so hot shingles cost one row, not a fan-out).
    """
    sh = docs.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    )
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(freq, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(F.when(F.col("df") >= min_docs, 1)).alias("n_dup_shingles"),
        )
        .select(
            F.col(id_col),
            "n_shingles",
            "n_dup_shingles",
            (
                F.col("n_dup_shingles").cast("double") / F.col("n_shingles")
            ).alias("dup_coverage"),
        )
    )
