"""Deduplication operators for training-data pipelines.

Scale design notes:
- Exact dedup shuffles 64-hex-char digests, never full documents.
- MinHash+LSH: shingle→signature is a narrow map (built-in higher-order
  functions, zero Python); banding turns the quadratic pair space into
  equality self-joins on (band, key) — the only shuffles. Candidates are
  then verified with exact Jaccard so output = the exact-threshold pair
  set (LSH recall at t=0.7 with 16 bands x 2 rows is ~1-1e-4; misses
  would surface as oracle mismatches).
- SimHash is the one Pandas-UDF op (bit-twiddling over token hashes is
  a poor fit for SQL exprs); Arrow-batched, never per-row Python.

These generalize the reference's content-hash dedup (U1/U2,
core/freezer.go:672-711, remote/gcs.go:185) from whole blocks to
documents and near-duplicates.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pufs_spark.operators.text import normalize_text
from pufs_spark.operators.util import spread_for_compute as _spread_for_compute

MERSENNE31 = (1 << 31) - 1

# Bounded signature cache: near_dup_pairs / cross_near_dup_pairs
# persist their signatures and evict the oldest on entry (see the note
# inside near_dup_pairs).
_ACTIVE_SIGS: list[DataFrame] = []
_ACTIVE_SIGS_LOCK = __import__("threading").Lock()
# ONE shared budget for both callers (a per-caller bound would let an
# interleaved near_dup_pairs call unpersist signatures a still-lazy
# cross_near_dup_pairs result depends on — silent full recompute).
# 6 = two lazy results' worth from either caller: near_dup_pairs adds
# one frame per call, cross_near_dup_pairs up to three (new-batch
# sigs, corpus sigs on the index-less path, and the survivor set).
_ACTIVE_SIGS_BUDGET = 6

# cross_near_dup_pairs broadcasts its surviving b-id set only when it
# is provably small: 1M id rows ≈ tens of MB on the driver. Above the
# cap the semi-join plans without a hint (AQE may still pick broadcast
# at runtime if the actual size allows).
_SURVIVOR_BROADCAST_CAP = 1_000_000
# Ceiling on docs whose minhash signature table may be broadcast-
# hinted in near_dup_pairs' estimator joins; the EFFECTIVE cap scales
# with the session's actual heap (_sigs_broadcast_cap) — ADVICE r12:
# a constant sized against the 32g default re-created the broadcast
# OOM the moment PUFS_DRIVER_MEM was overridden lower. A signature
# row is ~600 B (64 hashes + overhead); the rule is heap/60000 ≈ 1%
# of heap per side (600k ≈ 360 MB at 32 GiB, the point measured safe
# and 4x faster than the unhinted sort-merge at the 500k-doc sf10
# tile: 107 s vs 25 s, r12). Past the cap the plain shuffled join is
# the scalable path — a 10^9-doc corpus must never ship its signature
# table to every executor.
_SIGS_BROADCAST_CEIL = 2_000_000


def _sigs_broadcast_cap(spark) -> int:
    """Heap-derived doc-count cap for signature broadcast hints.

    Uses the smaller of driver and executor heap on a cluster (the
    broadcast must fit BOTH the driver collect and every executor's
    copy); in local mode there is one JVM and only the driver heap is
    real — ``spark.executor.memory`` is ignored there and its default
    would spuriously halve the cap."""
    heap = _parse_mem(spark.conf.get("spark.driver.memory", "8g"))
    if not spark.sparkContext.master.startswith("local"):
        heap = min(
            heap, _parse_mem(spark.conf.get("spark.executor.memory", "8g"))
        )
    return max(10_000, min(_SIGS_BROADCAST_CEIL, heap // 60_000))


def _parse_mem(s: str) -> int:
    """JVM memory string -> bytes ('32g', '8192m', '512k', plain)."""
    s = s.strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(s)


def _scan_bytes(df: DataFrame) -> int | None:
    """Sum of the on-disk bytes of ``df``'s leaf file scans (driver-
    side ``os.stat`` over ``inputFiles()`` — one plan analysis, no
    job). None for non-file-rooted or unstatable (remote) inputs."""
    import os

    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — sizing is advisory
        return None
    if not files:
        return None
    total = 0
    for f in files:
        try:
            total += os.path.getsize(f[5:] if f.startswith("file:") else f)
        except OSError:
            return None
    return total


def _persist_spread(df: DataFrame, key: str) -> DataFrame:
    """Persist with a PINNED layout: hash-partitioned on ``key``. A
    bare ``persist()`` caches whatever partitioning AQE planned, and
    both failure modes hit the signature cache (r13): with the high
    initialPartitionNum and cached-plan coalescing OFF it cached ~1024
    tiny blocks (per-task overhead ran D1 2x slow at sf1.0); with
    coalescing ON it cached a few advisory-sized fat blocks at sf10
    and capped every downstream estimator join at their count (D1 warm
    50 s vs 20 s). An explicit count is immune to both, and hashing on
    the id aligns the cache with the joins that consume it. The extra
    exchange is signature-sized (~600 B x docs), well under the
    banding shuffles it feeds.

    The count is INPUT-SIZED (r15, guide §2.2): the flat 4x-cores
    (128) meant a 5k-doc gate corpus cached 128 near-empty blocks and
    every downstream stage paid 128 tiny tasks. One partition per MB
    of the corpus' on-disk bytes, floored at cores (compute density)
    and capped at 4x cores (the r13 sf10 measured-best): sf0.1 ->
    cores, sf10 -> 4x cores, monotone between; non-file-rooted frames
    keep the scale-safe cap."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    src_bytes = _scan_bytes(df)
    if src_bytes is None:
        par = 4 * cores
    else:
        par = max(cores, min(4 * cores, src_bytes // (1 << 20)))
    return df.repartition(par, key).persist()


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """U1 at corpus scale: keep the min-id representative per content
    hash. Returns (doc_id, fp, dup_count) — in that column order, so
    positional consumers bind as documented."""
    h = df.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("fp"))
    return h.groupBy("fp").agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count")
    ).select(id_col, "fp", "dup_count")


def exact_dedup_normalized(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Same, over whitespace/punct-normalized text."""
    h = df.select(F.col(id_col), F.sha2(normalize_text(text_col), 256).alias("fp"))
    return h.groupBy("fp").agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count")
    ).select(id_col, "fp", "dup_count")


def shingle_col(text_col: str = "text", k: int = 5):
    """Distinct character k-shingles. Mirrors the oracle's
    ``[substring(text,i,k) for i in range(1, greatest(len-k+2,1))]``."""
    return F.array_distinct(
        F.when(
            F.length(F.col(text_col)) < k, F.array().cast("array<string>")
        ).otherwise(
            F.expr(
                f"transform(sequence(1, length({text_col}) - {k - 1}),"
                f" i -> substring({text_col}, i, {k}))"
            )
        )
    )


def with_shingles(df: DataFrame, text_col: str = "text", k: int = 5) -> DataFrame:
    return df.withColumn("shingles", shingle_col(text_col, k))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 32,
    seed: int = 42,
) -> DataFrame:
    """(id, sig array<long>): sig_j = min over shingles of
    (a_j * x + b_j) mod (2^31-1), x = xxhash64(shingle) mod (2^31-1).

    Shape: hash shingles to longs INSIDE the array transform (no
    shingle strings ever materialize in rows), explode the longs, then
    one groupBy(id) with num_hashes scalar-literal min aggregates. The
    aggregation boundary stops projection collapse, so the shingle
    pipeline is never duplicated per permutation (the naive
    per-permutation array_min form recomputes it num_hashes×, ~30×
    slower measured; an F.aggregate running-min variant avoids that but
    pays per-element array allocation and literal-array indexing, ~2×
    slower than this). No array_distinct: min over a multiset equals min
    over the set, so MinHash is dedup-invariant and the per-doc
    O(n log n) distinct is pure cost here (~15% of the build, measured).
    Map-side partial aggregation keeps the shuffle at docs × num_hashes
    longs per partition regardless of document size.
    """
    rnd = __import__("random").Random(seed)
    params = [
        (rnd.randrange(1, MERSENNE31), rnd.randrange(0, MERSENNE31))
        for _ in range(num_hashes)
    ]
    hashed_shingles = F.when(
        F.length(F.col(text_col)) < k, F.array().cast("array<bigint>")
    ).otherwise(
        F.expr(
            f"transform(sequence(1, length({text_col}) - {k - 1}),"
            f" i -> pmod(xxhash64(substring({text_col}, i, {k})), {MERSENNE31}))"
        )
    )
    hashed = _spread_for_compute(df, [id_col, text_col]).select(
        F.col(id_col), F.explode_outer(hashed_shingles).alias("_x")
    )
    # ONE parsed expression for the whole signature (r15): composing
    # num_hashes separate min-aggregates + the coalesce array from
    # Column objects cost ~1.0 s of py4j round trips PER CALL (measured
    # — the single largest piece of D1's wall at sf0.1); a single
    # F.expr string is one parser call and yields the identical
    # aggregate tree (values bit-equal: same pmod/min/coalesce(-1)
    # arithmetic, L-suffixed literals keep the multiply in bigint
    # exactly as the auto-promoted Column form did).
    # explode_outer keeps empty-shingle docs as a NULL row → NULL mins
    # → -1 sentinel (matches prior API).
    sig = F.expr(
        "array("
        + ", ".join(
            f"coalesce(min(pmod(_x * {a}L + {b}L, {MERSENNE31}L)), -1L)"
            for a, b in params
        )
        + ")"
    ).alias("sig")
    return hashed.groupBy(id_col).agg(sig)


def _banded(sigs: DataFrame, id_col: str, bands: int, rows: int) -> DataFrame:
    """(id, band, key) — each signature exploded into its band keys.
    One parsed expression (r15): the Column-composed bands×rows struct
    array cost ~0.3 s of py4j per call; identical tree, one parse."""
    bk = F.expr(
        "explode(array("
        + ", ".join(
            "named_struct('band', {i}, 'key', concat_ws(':', {slots}))".format(
                i=i,
                slots=", ".join(
                    f"sig[{i * rows + r}]" for r in range(rows)
                ),
            )
            for i in range(bands)
        )
        + "))"
    ).alias("bk")
    return sigs.select(F.col(id_col), bk).select(id_col, "bk.band", "bk.key")


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str = "doc_id", bands: int = 16, rows: int = 2
) -> DataFrame:
    """Band the signatures and self-join on (band, band_key): docs
    agreeing on all rows of any band become candidates. Returns distinct
    (a, b) with a < b. The signature must have at least bands*rows slots
    — slot indexing past the array end fails mid-job (callers that build
    signatures themselves: num_hashes >= bands*rows)."""
    banded = _banded(sigs, id_col, bands, rows)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.key") == F.col("r.key"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b")
        )
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    right: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for given (a, b) pairs. ``right`` resolves
    the ``b`` side from a different corpus (cross-corpus dedup);
    default is the self-join case.

    The shingle arrays are computed AFTER the pair join, from the text
    columns the join carries: Catalyst does not delay expensive
    projections across joins, so computing shingles on the corpus
    frames first materialized the full O(len) distinct-shingle array
    for EVERY document on BOTH sides — ~19 s of the r10 sf1.0 D1 wall
    — when only the pairs' survivors (typically a few thousand rows)
    need them. Joining raw text (~300 B/doc) and shingling the joined
    rows makes the shingle cost O(pairs), not O(corpus)."""
    ta = df.select(F.col(id_col).alias("a"), F.col(text_col).alias("_text_a"))
    tb = (df if right is None else right).select(
        F.col(id_col).alias("b"), F.col(text_col).alias("_text_b")
    )
    return (
        pairs.join(ta, "a")
        .join(tb, "b")
        .withColumn("sh_a", shingle_col("_text_a", k))
        .withColumn("sh_b", shingle_col("_text_b", k))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_distinct(F.concat("sh_a", "sh_b"))),
        )
        .select("a", "b", "jaccard")
    )


def _est_jaccard_col(sig_a: str, sig_b: str):
    """Estimated Jaccard = fraction of agreeing signature slots."""
    return F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.size(sig_a)


def estimate_jaccard_pairs(
    sigs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    sigs_b: DataFrame | None = None,
    broadcast_ok: bool = False,
) -> DataFrame:
    """MinHash-estimated Jaccard for (a, b) pairs: fraction of agreeing
    signature slots. Two id-keyed joins + a fixed-width zip — far
    cheaper than intersecting full shingle sets.

    ``broadcast_ok`` dispatches the physical join, per caller knowledge:

    - ``False`` (default, the incremental/index path): NO hint. The
      corpus-side signature table there is the WHOLE corpus index and
      must never be collected through the driver; AQE may still
      broadcast a side it measures as small.
    - ``True`` (the ``near_dup_pairs`` self-join path only): hint
      ``broadcast`` on both signature sides. That caller's ``sigs``
      frame is persisted and bounded (one fixed-width row per distinct
      doc of a single already-materialized corpus), and without the
      hint AQE has no size statistics for the persisted frame mid-plan
      and falls back to a sort-merge join — measured +70% on the
      sf0.1 benchmark (BENCH_r04 vs r02).

    ``sigs_b`` resolves the ``b`` side from a different signature set
    (cross-corpus dedup)."""
    same = sigs_b is None
    sa = sigs.select(F.col(id_col).alias("a"), F.col("sig").alias("sig_a"))
    if same:
        # Identical select for BOTH sides (only the post-join renames
        # differ): the two broadcast subplans then canonicalize equal
        # and ReuseExchange ships ONE broadcast instead of two — at the
        # self-join scale this halves the collect+build cost (r15;
        # 500k-doc sigs are ~300 MB per broadcast at sf10).
        sb = sa.select(
            F.col("a").alias("b"), F.col("sig_a").alias("sig_b")
        )
    else:
        sb = sigs_b.select(
            F.col(id_col).alias("b"), F.col("sig").alias("sig_b")
        )
    if broadcast_ok:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .withColumn("est_jaccard", _est_jaccard_col("sig_a", "sig_b"))
        .select("a", "b", "est_jaccard")
    )


def near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    rows: int = 2,
    est_margin: float = 0.25,
) -> DataFrame:
    """MinHash+LSH candidates, exact-Jaccard verified: the scalable path
    whose OUTPUT equals the brute-force threshold join (probabilistic
    recall bound below — the contract is exact up to the stated miss
    probability at the threshold).

    Three stages, each cutting the pair space before the next pays:
    1. banding (default 16 bands x 2 rows): a true pair at exactly
       s=0.70 is missed with prob (1-0.7^2)^16 ≈ 2e-5 — the
       recall-safe library default. rows=4 cuts the flat-corpus
       background collisions from ~45% of pairs to ~2% (measured at
       sf0.1) but weakens the bound at s=0.70 to (1-0.7^4)^16 ≈ 1.2%,
       so it is only passed explicitly by callers whose corpus is
       known to have no pairs near the threshold (the benchmark corpus'
       weakest true pair sits at s=0.83: miss ≈ 3e-5);
    2. signature-estimated Jaccard prune at threshold - est_margin:
       with 64 hashes a true t=0.7 pair sits ~4.4 sd above the cut, so
       the prune is recall-safe but drops the remaining low-similarity
       band collisions without touching shingle sets;
    3. exact shingle Jaccard on the survivors only.
    """
    if num_hashes < bands * rows:
        raise ValueError(
            f"num_hashes={num_hashes} < bands*rows={bands * rows}: the "
            "banding would index past the signature array"
        )
    # Persist: sigs feed both sides of the banding self-join AND the
    # estimator joins — without it the signature pass runs 4x. The
    # cache keeps the last _ACTIVE_SIGS_BUDGET calls' signatures (evicting
    # at build time of the call after next, so a caller holding two lazy
    # results still executes both against cached sigs) — an eager
    # checkpoint here would also bound the cache, but the barrier
    # serializes the pipeline into extra jobs (+40% wall, measured).
    sigs = _persist_spread(
        minhash_signatures(df, text_col, id_col, k, num_hashes), id_col
    )
    with _ACTIVE_SIGS_LOCK:
        _ACTIVE_SIGS.append(sigs)
        while len(_ACTIVE_SIGS) > _ACTIVE_SIGS_BUDGET:
            _ACTIVE_SIGS.pop(0).unpersist()
    cand = lsh_candidate_pairs(sigs, id_col, bands, rows)
    # The broadcast hint on the estimator joins is worth +70% at
    # sf0.1 (AQE has no stats for a persisted frame mid-plan and
    # sort-merges without it) — but a signature row is ~600 B
    # (64 hashes + overhead), so the hint grows WITH THE CORPUS and
    # past ~10^5 docs it becomes the OOM it outran: at the sf10 tile
    # (500k docs, ~300 MB x two sides) it killed the shared-session
    # bench with "Not enough memory to build and broadcast" (r12).
    # Gate on an actual count, like the survivor broadcast in
    # cross_near_dup_pairs: the count materializes the persisted
    # sigs the joins below reuse anyway, and an over-cap corpus
    # falls back to a plain (shuffled, scalable) join.
    est = estimate_jaccard_pairs(
        sigs, cand, id_col,
        broadcast_ok=sigs.count() <= _sigs_broadcast_cap(df.sparkSession),
    )
    survivors = est.where(
        F.col("est_jaccard") >= threshold - est_margin
    ).select("a", "b")
    return jaccard_pairs(df, survivors, text_col, id_col, k).where(
        F.col("jaccard") >= threshold
    )


def build_near_dup_index(
    corpus_df: DataFrame,
    table: str,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    rows: int = 2,
    buckets: int = 64,
) -> None:
    """Persist the corpus side of incremental dedup as a reusable
    BUCKETED index: (id, band, key, sig), bucketed+sorted by
    (band, key). Each ingest batch then LSH-joins against the index
    with no corpus-side shuffle (the bucketed scan is pre-partitioned;
    only the new batch exchanges) and no corpus signature recompute —
    the signatures ride along for the estimate stage. Callers must
    pass the SAME (k, num_hashes, bands, rows) to
    ``cross_near_dup_pairs`` that built the index."""
    sigs = minhash_signatures(corpus_df, text_col, id_col, k, num_hashes)
    index = _banded(sigs, id_col, bands, rows).join(sigs, id_col)
    # DROP first (as build_ann_index does): saveAsTable with an explicit
    # path fails or silently keeps the old external location when the
    # table already exists at a different path.
    corpus_df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
    (
        index.write.bucketBy(buckets, "band", "key")
        .sortBy("band", "key")
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table)
    )


def update_near_dup_index(
    new_docs: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    rows: int = 2,
    batch_id: str | None = None,
) -> None:
    """Fold a NEW batch's banded signatures into a persisted near-dup
    index (``build_near_dup_index``) — the ingest-side step after
    ``cross_near_dup_pairs`` has vetted the batch: accepted docs join
    the corpus, so the NEXT batch's dedup sees them. The insert writes
    the batch's files under the table's existing (band, key) bucket
    spec (Spark shuffles only the batch by the bucket expression), so
    per-batch cost is the batch's signature build — no corpus touch.

    Caller contracts: ids must be new to the index (append, not
    upsert), and (k, num_hashes, bands, rows) must equal the build's.
    ``batch_id`` (e.g. the foreachBatch epoch id) makes the append
    exactly-once across at-least-once replays via
    ``indexes.guarded_append``'s commit marker in ``<table>_meta`` —
    without it, a replayed batch re-appends its signatures, violating
    the ids-must-be-new contract (the r6 advisor's finding). Each call
    appends up to one file per bucket; compact periodically via
    ``indexes.compact_index`` (see that module's small-file
    rationale)."""
    from pufs_spark.operators import indexes

    spark = new_docs.sparkSession
    sigs = minhash_signatures(new_docs, text_col, id_col, k, num_hashes)
    index = _banded(sigs, id_col, bands, rows).join(sigs, id_col)

    def do_append():
        index.select(spark.table(table).columns).write.insertInto(table)

    indexes.guarded_append(spark, table, batch_id, do_append)


def cross_near_dup_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    rows: int = 2,
    est_margin: float = 0.25,
    corpus_index: str | None = None,
) -> DataFrame:
    """Incremental dedup: near-dup pairs BETWEEN a new batch and an
    existing corpus — the ingest-time question a growing training set
    asks on every batch ("which incoming docs are near-dups of
    something we already have?"), without ever forming new×corpus
    pairs. Returns (a=new id, b=corpus id, jaccard ≥ threshold); docs
    appearing in both frames pair with themselves at jaccard 1.0
    (ids are NOT assumed disjoint — the two sides never mix).

    Same three-stage contract as near_dup_pairs (banding → estimated
    prune → exact verify, identical recall math), but the banding join
    is new-side × corpus-side only: candidates come from an equality
    join on (band, key), so cost scales with band collisions, not
    |new|×|corpus|.

    ``corpus_index`` names a table built by ``build_near_dup_index``
    (same LSH parameters): the corpus's banded signatures are then read
    pre-bucketed — no corpus-side shuffle, no signature recompute per
    batch — and ``corpus_df`` is only consulted to verify the
    survivors' exact Jaccard."""
    if num_hashes < bands * rows:
        raise ValueError(
            f"num_hashes={num_hashes} < bands*rows={bands * rows}: the "
            "banding would index past the signature array"
        )
    sigs_n = _persist_spread(
        minhash_signatures(new_df, text_col, id_col, k, num_hashes), id_col
    )
    with _ACTIVE_SIGS_LOCK:
        _ACTIVE_SIGS.append(sigs_n)
        while len(_ACTIVE_SIGS) > _ACTIVE_SIGS_BUDGET:
            _ACTIVE_SIGS.pop(0).unpersist()
    bn = _banded(sigs_n, id_col, bands, rows).withColumnRenamed(id_col, "a")
    sa = sigs_n.select(F.col(id_col).alias("a"), F.col("sig").alias("sig_a"))
    if corpus_index is not None:
        # The corpus signature rides the bucketed index scan THROUGH the
        # collision join, so the estimate stage never regroups the
        # bands×-duplicated index by id (that groupBy was a corpus-sized
        # shuffle on every batch — measured ~45% of per-batch wall at
        # sf0.1). The only per-batch shuffles are collision-sized: the
        # (a,b) dedup groupBy and the join back to the new batch.
        index = new_df.sparkSession.table(corpus_index)
        bc = index.select(
            F.col(id_col).alias("b"), "band", "key", F.col("sig").alias("sig_b")
        )
        cand_sig = (
            bn.join(bc, ["band", "key"])
            .groupBy("a", "b")
            .agg(F.first("sig_b").alias("sig_b"))
        )
        est = (
            cand_sig.join(sa, "a")
            .withColumn("est_jaccard", _est_jaccard_col("sig_a", "sig_b"))
            .select("a", "b", "est_jaccard")
        )
    else:
        sigs_c = _persist_spread(
            minhash_signatures(corpus_df, text_col, id_col, k, num_hashes),
            id_col,
        )
        with _ACTIVE_SIGS_LOCK:
            _ACTIVE_SIGS.append(sigs_c)
            while len(_ACTIVE_SIGS) > _ACTIVE_SIGS_BUDGET:
                _ACTIVE_SIGS.pop(0).unpersist()
        bc = _banded(sigs_c, id_col, bands, rows).withColumnRenamed(id_col, "b")
        cand = bn.join(bc, ["band", "key"]).select("a", "b").distinct()
        est = estimate_jaccard_pairs(sigs_n, cand, id_col, sigs_b=sigs_c)
    survivors = est.where(
        F.col("est_jaccard") >= threshold - est_margin
    ).select("a", "b").persist()
    with _ACTIVE_SIGS_LOCK:
        _ACTIVE_SIGS.append(survivors)
        while len(_ACTIVE_SIGS) > _ACTIVE_SIGS_BUDGET:
            _ACTIVE_SIGS.pop(0).unpersist()
    # Exact-verify cost must scale with SURVIVORS, not corpus size: probe
    # the corpus through a semi-join on the surviving b-ids so only
    # matching docs are shingled — without this, every batch paid a full
    # corpus tokenize+shuffle in jaccard_pairs. The survivor count is
    # data-dependent (collision count), so the broadcast hint is GATED
    # on an actual count rather than forced: a duplicate-heavy batch
    # whose survivor set exceeds the cap falls back to a plain semi-join
    # (shuffle, but no driver/executor OOM from an oversized broadcast).
    # Persisting survivors makes the count job reusable by both the
    # probe build and the pairs side (one collision-pipeline execution,
    # not three).
    b_ids = survivors.select(F.col("b").alias(id_col)).distinct()
    if b_ids.count() <= _SURVIVOR_BROADCAST_CAP:
        b_ids = F.broadcast(b_ids)
    corpus_probe = corpus_df.join(b_ids, id_col, "left_semi")
    return jaccard_pairs(
        new_df, survivors, text_col, id_col, k, right=corpus_probe
    ).where(F.col("jaccard") >= threshold)


def prefix_filter_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """EXACT near-dup pair generation by prefix filtering (AllPairs /
    PPJoin family, Bayardo et al. WWW'07): two sets with Jaccard >= t
    MUST share a token within each one's first
    |s| - ceil(t*|s|) + 1 tokens when both are ordered by ascending
    global frequency. Candidates are therefore an equality self-join on
    PREFIX shingles only — no banding, no recall loss; output equals
    the brute-force threshold join by construction.

    Plan: shingle → global-frequency rank join → per-doc
    rarest-first prefix (window) → prefix self-join → exact verify.
    Rarest-first ordering keeps prefix postings short, which is what
    bounds the candidate count at scale."""
    sh = with_shingles(df, text_col, k).select(
        F.col(id_col), F.explode("shingles").alias("s")
    )
    freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
    ranked = sh.join(freq, "s")
    w = Window.partitionBy(id_col).orderBy("_df", "s")
    sized = ranked.withColumn("_pos", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy(id_col))
    )
    prefix = sized.where(
        F.col("_pos") <= F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1
    ).select(id_col, "s")
    cand = (
        prefix.select(F.col(id_col).alias("a"), "s")
        .join(prefix.select(F.col(id_col).alias("b"), "s"), "s")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return jaccard_pairs(df, cand, text_col, id_col, k).where(
        F.col("jaccard") >= threshold
    )


def near_dup_groups(
    pairs: DataFrame, id_col_a: str = "a", id_col_b: str = "b"
) -> DataFrame:
    """Union near-dup pairs into groups via iterative min-label
    propagation (converges in O(log diameter) rounds). Each round is
    localCheckpoint'd: without it the lineage doubles per iteration and
    every convergence check re-runs the whole upstream LSH pipeline.
    Returns (doc_id, group_id)."""
    edges = pairs.select(id_col_a, id_col_b).localCheckpoint()
    labels = (
        edges.select(F.col(id_col_a).alias("id"))
        .union(edges.select(F.col(id_col_b).alias("id")))
        .distinct()
        .withColumn("grp", F.col("id"))
        .localCheckpoint()
    )
    sym = (
        edges.select(F.col(id_col_a).alias("x"), F.col(id_col_b).alias("y"))
        .union(
            edges.select(F.col(id_col_b).alias("x"), F.col(id_col_a).alias("y"))
        )
        .localCheckpoint()
    )
    for _ in range(16):
        neighbor_min = (
            sym.join(labels, sym.y == labels.id)
            .groupBy("x")
            .agg(F.min("grp").alias("ngrp"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.x, "left")
            .select(
                "id",
                F.least(
                    F.col("grp"), F.coalesce(F.col("ngrp"), F.col("grp"))
                ).alias("grp"),
            )
            .localCheckpoint()
        )
        converged = new_labels.exceptAll(labels).isEmpty()
        labels = new_labels
        if converged:
            break
    return labels.select(F.col("id").alias("doc_id"), F.col("grp").alias("group_id"))


_SIMHASH_BITS = 64


@F.pandas_udf(T.LongType())
def _simhash_udf(texts: pd.Series) -> pd.Series:
    """Arrow-batched simhash: sum ±1 per bit over blake2b token hashes.
    Deterministic across runs/processes (no PYTHONHASHSEED dependence)."""
    out = []
    for t in texts:
        counts = [0] * _SIMHASH_BITS
        for tok in (t or "").lower().split():
            h = int.from_bytes(
                hashlib.blake2b(tok.encode(), digest_size=8).digest(), "big"
            )
            for b in range(_SIMHASH_BITS):
                counts[b] += 1 if (h >> b) & 1 else -1
        v = 0
        for b in range(_SIMHASH_BITS):
            if counts[b] > 0:
                v |= 1 << b
        # to signed 64-bit
        out.append(v - (1 << 64) if v >= (1 << 63) else v)
    return pd.Series(out, dtype="int64")


def simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("simhash", _simhash_udf(F.col(text_col)))


def simhash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hamming-ball near-dup via the 4x16-bit chunk trick: pairs within
    hamming distance 3 share at least one exact 16-bit chunk, so the
    pair space reduces to 4 equality self-joins."""
    h = simhash(df, text_col).select(id_col, "simhash")
    chunks = h.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned(F.col("simhash"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("ck"),
    ).select(id_col, "simhash", "ck.chunk", "ck.key")
    l, r = chunks.alias("l"), chunks.alias("r")
    cand = (
        l.join(
            r,
            on=[
                F.col("l.chunk") == F.col("r.chunk"),
                F.col("l.key") == F.col("r.key"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("a"),
            F.col(f"r.{id_col}").alias("b"),
            F.col("l.simhash").alias("ha"),
            F.col("r.simhash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def dedup_keep_first(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    keep: str = "min_id",
    text_col: str = "text",
) -> DataFrame:
    """Filter a corpus down to ONE representative per near-dup group
    plus all untouched docs — the end-to-end dedup sink.

    ``keep`` selects the representative policy:
    - ``"min_id"`` (default): the group's smallest id — deterministic
      and join-free (group_id IS the min label by construction);
    - ``"longest"``: the longest document (ties → min id) — the common
      production choice when near-dups are truncations/excerpts of one
      another and the fullest copy should survive. One window
      row_number per group over the grouped docs only.
    """
    groups = near_dup_groups(pairs)
    if keep == "min_id":
        losers = groups.where(F.col("doc_id") != F.col("group_id")).select(
            "doc_id"
        )
    elif keep == "longest":
        grouped = df.join(
            groups.withColumnRenamed("doc_id", id_col), id_col
        ).select(F.col(id_col), F.length(text_col).alias("_len"), "group_id")
        w = Window.partitionBy("group_id").orderBy(
            F.col("_len").desc(), F.col(id_col)
        )
        losers = (
            grouped.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") > 1)
            .select(F.col(id_col).alias("doc_id"))
        )
    else:
        raise ValueError(f"unknown keep policy {keep!r}")
    return df.join(
        losers.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )


def duplicate_rank(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Window-based exact-dup ranking: rank of each doc within its
    content-hash group (rank 1 = keeper)."""
    w = Window.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(F.col(id_col))
    return df.withColumn("dup_rank", F.row_number().over(w))


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    min_count: int = 2,
) -> DataFrame:
    """Paragraph-granularity corpus dedup (the Lee et al. 2022
    "Deduplicating Training Data" family at the granularity C4/Gopher
    pipelines deduplicate boilerplate at): any paragraph whose EXACT
    text occurs ``min_count``+ times ACROSS THE CORPUS is removed from
    every document, and each document's text is reassembled in original
    paragraph order. Returns (id, text_clean, n_paras, n_dropped).
    Whitespace-only paragraphs are never counted or removed (they are
    structure, not content). A count over occurrences (not distinct
    docs) also removes a paragraph repeated inside ONE document — the
    within-doc repetition case T11's Gopher stats flag.

    Plan: posexplode → global count keyed on the paragraph's sha2
    digest (64-hex digests shuffle in the count agg, never paragraph
    text — exact_dedup's economics) → broadcast-eligible left join
    marking duplicated paragraphs → ONE per-doc regroup computing the
    counts and the ordered reassembly together
    (sort_array(collect_list(struct(pos, para, keep)))). Two key-hashed
    shuffles total (count agg + regroup), both map-side combine;
    plan-checked at 2 Exchanges."""
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    )
    dup_fps = (
        paras.where(F.trim(F.col("para")) != "")
        .groupBy(F.sha2(F.col("para"), 256).alias("fp"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
        .select("fp", F.lit(True).alias("_dup"))
    )
    tagged = paras.withColumn("fp", F.sha2(F.col("para"), 256)).join(
        dup_fps, "fp", "left"
    )
    return (
        tagged.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.filter(
                        F.sort_array(
                            F.collect_list(
                                F.struct(
                                    F.col("pos"),
                                    F.col("para"),
                                    F.col("_dup").isNull().alias("keep"),
                                )
                            )
                        ),
                        lambda x: x.keep,
                    ),
                    lambda x: x.para,
                ),
                sep,
            ).alias("text_clean"),
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.when(F.col("_dup").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
        )
        .select(id_col, "text_clean", "n_paras", "n_dropped")
    )
