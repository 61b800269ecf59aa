"""Deduplication operators for training-data pipelines (BASELINE.json north
star): exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design notes
------------------
- exact dedup: one hash-shuffle on the key; map-side partial agg applies.
- MinHash signatures: computed per row with array expressions (NO explode →
  no shuffle, no row blow-up); only the band→bucket join shuffles, and it
  shuffles k/band-size values per doc, not the shingle stream.
- candidate verification joins shingle sets back only for candidate pairs —
  at 100 TB the candidate set is orders of magnitude smaller than the
  cross-product the naive approach would shuffle.
- all hashing is Spark's deterministic murmur3/xxhash64 — signatures are
  reproducible across runs and cluster sizes.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .scale import write_bucketed
from .text import tokens


_CACHED: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    """Persist an operator intermediate (MEMORY_AND_DISK) and register it so
    long-lived sessions can reclaim executor storage: dedup operators cache
    shared subplans for the duration of one result materialization, and
    repeated calls would otherwise accumulate cached partitions until the
    context dies. Call :func:`release_cached` after materializing results."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _CACHED.append(df)
    return df


def release_cached() -> int:
    """Unpersist every intermediate registered by dedup operators in this
    process; returns the number released. Safe to call any time — Spark
    recomputes lazily if a released plan is re-executed."""
    n = 0
    while _CACHED:
        df = _CACHED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    # NB: the collapse-probe memo intentionally survives this call — it
    # holds routing booleans (bytes, not executor storage), and callers
    # like the bench release caches between repetitions of the SAME
    # input, which is exactly when the memo earns its keep. A stale
    # entry can only mis-route performance, never correctness
    # (verification is exact on either route). Use
    # reset_collapse_probe_memo() to drop it explicitly.
    return n


def reset_collapse_probe_memo() -> int:
    """Drop every memoized collapse-probe routing decision; returns the
    number of entries dropped. Needed only when a SOURCE IS REWRITTEN IN
    PLACE (same path, same plan hash, different data) — e.g. a test
    fixture regenerated mid-session — so the next
    :func:`minhash_near_duplicates` call re-probes the hottest set-key
    group instead of reusing a routing boolean measured on the old data.
    A stale entry mis-routes performance only, never correctness."""
    n = len(_COLLAPSE_PROBE_MEMO)
    _COLLAPSE_PROBE_MEMO.clear()
    return n


def _spread(df: DataFrame, est_bytes: int | None = None) -> DataFrame:
    """Ensure CPU-heavy per-row work has at least defaultParallelism
    partitions. A small parquet file scans as ONE split (maxPartitionBytes),
    which would serialize shingling/hashing on a single core; at 100 TB the
    scan already has thousands of splits and this is a no-op.

    The split-count probe uses the optimizer's size estimate (sub-ms,
    stats off the optimized plan) instead of df.rdd.getNumPartitions():
    the RDD conversion builds the whole physical plan — measured ~57 ms
    of pure driver time per operator build, paid on every bench
    repetition. The estimate errs toward repartitioning (scan estimate /
    maxPartitionBytes understates split count only for many-small-files
    layouts, where the extra shuffle of a tiny input is noise); the exact
    RDD probe remains the fallback when stats are unavailable."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # callers that already probed the source plan pass the estimate in,
    # avoiding a second analysis pass (column pruning makes the source
    # estimate a slight overcount for the projection — irrelevant against
    # a parallelism-sized threshold)
    est = est_bytes if est_bytes is not None else _plan_size_bytes(df)
    if est is not None:
        try:
            max_pb = int(
                df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes")
            )
        except Exception:
            max_pb = 128 * 1024 * 1024
        approx_splits = est // max_pb + 1
        if approx_splits < target:
            return df.repartition(target)
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def _null_safe_key(key_cols: list[str]) -> Column:
    """Hash key over the columns with SQL GROUP BY null semantics: NULL is
    its own group, distinct from '' (a bare concat_ws would map NULL to ''
    and silently merge a NULL row into the empty-string group, diverging
    from any GROUP BY oracle). Each column is tagged 'N' (null) or
    'V'+value, so the tag byte keeps the encoding injective, and columns
    join on \\x01 so per-column boundaries can't collide."""
    parts = [
        F.when(F.col(c).isNull(), F.lit("N")).otherwise(
            F.concat(F.lit("V"), F.col(c))
        )
        for c in key_cols
    ]
    return F.md5(F.concat_ws("\x01", *parts))


def exact_duplicates(
    df: DataFrame, key_cols: list[str], id_col: str
) -> DataFrame:
    """Groups with >1 row on the (hashed) key: returns
    (dup_key, n_dups, keep_id, dup_ids) — keep_id is the min id (stable
    canonical representative)."""
    key = _null_safe_key(key_cols)
    return (
        df.withColumn("dup_key", key)
        .groupBy("dup_key")
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("dup_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep exactly one row (min id) per duplicate group — the scalable
    groupBy-hash form of exact dedup."""
    key = _null_safe_key(key_cols)
    w_min = (
        df.withColumn("_k", key)
        .groupBy("_k")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(w_min, id_col, "left_semi")


# ---------------------------------------------------------------------------
# shingling + MinHash + LSH
# ---------------------------------------------------------------------------

def shingle_array(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array column (no explode).

    Built as zip_with over n shifted slices of the token array — ~2.4×
    faster than a transform(sequence) with n element_at lookups per gram
    (fewer interpreted higher-order ops per element). Tokens join on \\x01
    so adjacent-token boundaries can't collide ("ab","c" vs "a","bc").
    The when() guard keeps slice lengths non-negative for short docs (CASE
    branches evaluate lazily, so the slice never runs for them — ANSI-safe).
    """
    toks = tokens(text)
    size = F.size(toks)
    m = size - (n - 1)
    sep = F.lit("\x01")
    grams = F.slice(toks, 1, m)
    for j in range(1, n):
        part = F.slice(toks, j + 1, m)
        grams = F.zip_with(grams, part, lambda a, b: F.concat(a, sep, b))
    empty = F.array().cast("array<string>")
    return F.when(size >= n, F.array_distinct(grams)).otherwise(empty)


# --- SQL-text builders -------------------------------------------------------
# The signature pipeline is a large expression tree (k permutations × array
# higher-order functions). Building it Column-by-Column costs thousands of
# py4j round-trips (~1.5-2.5 s of pure DRIVER time per call — measured), so
# the hot path generates the whole expression as ONE SQL string and parses
# it JVM-side with F.expr. The Column-based functions below remain the
# composable public API; semantics are identical.

_MASK32 = (1 << 32) - 1


def _toks_sql(text_col: str) -> str:
    """SQL text for tokens(text_col). Project this as its OWN column
    before building shingles from it: the shingle expression references the
    token array ~2n times, and higher-order functions are codegen-fallback,
    so an inlined tokenization re-splits the text per reference (measured
    ~25% of the whole MinHash pipeline at bench scale). A separate
    projection evaluates it once — and CollapseProject will not merge it
    back, because the optimizer never duplicates a non-trivial expression
    referenced more than once."""
    return f"filter(split(trim({text_col}), '\\\\s+'), t -> t <> '')"


def _shingles_from_toks_sql(toks_col: str, n: int = 3) -> str:
    """SQL text for the shingle build given an ALREADY-projected token
    array column (see _toks_sql)."""
    m = f"(size({toks_col}) - {n - 1})"
    grams = f"slice({toks_col}, 1, {m})"
    for j in range(1, n):
        grams = (
            f"zip_with({grams}, slice({toks_col}, {j + 1}, {m}),"
            " (a, b) -> concat(a, char(1), b))"
        )
    return (
        f"CASE WHEN size({toks_col}) >= {n} THEN array_distinct({grams})"
        " ELSE CAST(array() AS array<string>) END"
    )


def _shingles_sql(text_col: str, n: int = 3) -> str:
    """SQL text for shingle_array(text_col, n) (same semantics). Inlines
    the tokenization at every reference — fine for one-off expressions;
    hot paths should stage _toks_sql as its own projection and use
    _shingles_from_toks_sql."""
    return _shingles_from_toks_sql(f"({_toks_sql(text_col)})", n)


def _hp_sql(shingles_col: str) -> str:
    """SQL text for shingle_hash_pairs(shingles_col)."""
    return (
        f"transform({shingles_col}, s -> struct("
        f"(CAST(hash(s) AS BIGINT) & {_MASK32}) AS h1,"
        f" (xxhash64(s) & {_MASK32}) AS h2))"
    )


def _sig_sql(hp_col: str, k: int) -> str:
    """SQL text for minhash_from_pairs(hp_col, k)."""
    perms = ", ".join(
        f"array_min(transform({hp_col}, h ->"
        f" (({a}L * h.h1) & {_MASK32}L) + (({b}L * h.h2) & {_MASK32}L)))"
        for a, b in _perm_mults(k)
    )
    return f"array({perms})"


def _bands_sql(sig_col: str, bands: int, rows: int) -> str:
    """SQL text for lsh_band_keys(sig_col, bands, rows)."""
    keys = ", ".join(
        f"hash({b}, "
        + ", ".join(
            f"element_at({sig_col}, {b * rows + r + 1})" for r in range(rows)
        )
        + ")"
        for b in range(bands)
    )
    return f"array({keys})"


def shingle_hash_pairs(shingles: Column) -> Column:
    """Per-shingle (h1, h2) double-hash pairs: murmur3 + xxhash64, masked to
    32 bits. Project this as its OWN column before deriving the signature —
    it is referenced k times, and keeping it a named alias stops Catalyst
    from inlining (and re-running) the string hashing k times."""
    mask = F.lit((1 << 32) - 1)
    return F.transform(
        shingles,
        lambda s: F.struct(
            F.hash(s).cast("long").bitwiseAND(mask).alias("h1"),
            F.xxhash64(s).bitwiseAND(mask).alias("h2"),
        ),
    )


def _perm_mults(k: int) -> list[tuple[int, int]]:
    """Fixed odd 31-bit multiplier pairs (a_i, b_i), one per permutation —
    splitmix-derived constants, deterministic across runs/clusters."""
    out = []
    for i in range(k):
        a = (0x9E3779B97F4A7C15 * (2 * i + 1)) & 0x7FFFFFFF | 1
        b = (0xC2B2AE3D27D4EB4F * (2 * i + 2)) & 0x7FFFFFFF | 1
        out.append((a, b))
    return out


def minhash_from_pairs(pairs: Column, k: int = 64) -> Column:
    """k-permutation MinHash signature as array<long> from (h1, h2) pairs:
    permutation i is (a_i*h1 mod 2^32) + (b_i*h2 mod 2^32) with independent
    odd multipliers, so the per-row cost is 2 string hashes per shingle +
    cheap integer arithmetic, not k string-hash passes. Naive double hashing
    (h1 + i*h2) is NOT enough here: its permutations are order-correlated,
    so one unshared shingle with a small hash wins many permutations at
    once and near-identical docs (j≈0.99) can miss every band. Independent
    multipliers rescramble the order per permutation. Bounds: odd a_i <
    2^31 times h1 < 2^32 stays under 2^63 (ANSI-safe), masked back to 32
    bits; the sum of two 32-bit values < 2^33. Deterministic across runs
    and cluster sizes."""
    mask = F.lit((1 << 32) - 1)

    def min_for_perm(a: int, b: int) -> Column:
        # closure factory: a two-arg lambda would make F.transform bind the
        # array index to the second parameter instead of the multiplier
        return F.array_min(
            F.transform(
                pairs,
                lambda h: (F.lit(a) * h["h1"]).bitwiseAND(mask)
                + (F.lit(b) * h["h2"]).bitwiseAND(mask),
            )
        )

    return F.array(*[min_for_perm(a, b) for a, b in _perm_mults(k)])


def lsh_band_keys(signature: Column, bands: int, rows: int) -> Column:
    """Band the signature: array of `bands` bucket keys, each hashing `rows`
    consecutive signature slots (banded LSH: P(candidate) ≈ 1-(1-j^r)^b)."""
    return F.array(
        *[
            F.hash(
                F.lit(b),
                *[
                    F.element_at(signature, b * rows + r + 1)
                    for r in range(rows)
                ],
            )
            for b in range(bands)
        ]
    )


# order-insensitive exact-set fingerprint over the (h1, h2) hash-pair
# array: (cardinality, xor of the combined 64-bit element, xor of its
# xxhash64 remix) — two O(S) commutative folds over ALREADY-computed
# hashes: no per-doc sort, no giant joined string, no re-hashing of shingle
# strings, ANSI-safe (xor never overflows). A false merge needs a
# simultaneous collision of both 64-bit xors at equal cardinality
# (~2^-128): birthday-safe even at trillions of distinct sets.
def _set_key_sql(hp_col: str) -> str:
    # Direct folds over the struct array (no intermediate transform()
    # arrays — higher-order functions are codegen-fallback, so every
    # avoided pass is interpreted-eval cost saved on the collapse path).
    return (
        f"struct(size({hp_col}) AS n,"
        f" aggregate({hp_col}, cast(0 as bigint),"
        " (a, h) -> a ^ (shiftleft(h.h1, 32) | h.h2)) AS x1,"
        f" aggregate({hp_col}, cast(0 as bigint),"
        " (a, h) -> a ^ xxhash64(h.h1, h.h2)) AS x2)"
    )


def _hp_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    est_bytes: int | None = None,
) -> DataFrame:
    """(id, hp) — per-document distinct-shingle (h1, h2) hash pairs.

    Tokens staged as their own projection (split once — see _toks_sql);
    every shingle string is hashed ONCE into its pair and the strings are
    dropped, so the fingerprint, the signature, and the verify step all
    run on the fixed-width hash array and shingle strings never shuffle.
    Jaccard over the double-hashed set equals string-set Jaccard up to a
    per-pair 2^-64 collision. Docs with no shingles are dropped — they
    have no similarity signal and would all collide on the null signature
    (then divide by zero in jaccard)."""
    return (
        _spread(
            df.select(F.col(id_col).alias("id"), F.col(text_col)), est_bytes
        )
        .select("id", F.expr(_toks_sql(text_col)).alias("_toks"))
        .select(
            "id", F.expr(_shingles_from_toks_sql("_toks", n)).alias("shingles")
        )
        .filter(F.size("shingles") > 0)
        .select("id", F.expr(_hp_sql("shingles")).alias("hp"))
    )


# pair-combination generator over a sorted id array: for member x at index
# i, pair with every later member — C(n,2) structs, generated distributed
# (one group per row)
_MEMBER_PAIRS_SQL = (
    "flatten(transform(members, (x, i) ->"
    " transform(slice(members, i + 2, size(members) - i - 1),"
    " y -> struct(x AS x, y AS y))))"
)


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimizer size estimate for a plan (bytes): file-size
    based for scans, propagated through projections — read off the
    optimized logical plan's statistics, no job triggered. None when the
    estimate is unavailable (non-JVM plans, API drift)."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None


# collapse crossover: 64 MB optimizer-estimate threshold — below it the
# identical-set collapse machinery is measured pure overhead (~0.7 s at
# sf0.1) while the band join it protects cannot blow up; above it (or when
# the estimate is unknown) the O(g²)-bucket protection is worth the extra
# aggregate. Calibrated alongside the split gate (SKEWCHECK_r04/r05).
COLLAPSE_EXACT_AUTO_THRESHOLD_BYTES = 64 << 20
# plain banding is safe only while the worst identical-set group keeps its
# band buckets tiny: a group of g puts C(g,2) candidate pairs in EVERY one
# of its bands. 16 → ≤120 intra pairs/group — noise; the ×50 blow-up's
# groups of 50 (19,600 banded pairs each) must take the collapse.
PLAIN_ROUTE_MAX_GROUP = 16
# small-corpus collapse-probe memo: source-plan semantic hash → routing
# decision (see the auto gate in minhash_near_duplicates)
_COLLAPSE_PROBE_MEMO: dict[int, bool] = {}


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    persist_shingles: bool = True,
    collapse_exact: bool | str = "auto",
    max_group_pairs: int = 10_000_000,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with EXACT Jaccard verification.

    shingle → (h1, h2) hash pairs (strings hashed once, then dropped) →
    signature (map-side) → band-bucket self-join on (id, band) ONLY — the
    band shuffle moves `bands` ints per doc, never the bands×-replicated
    shingle payload — → distinct candidate id pairs → join hash sets back
    by id → verify set Jaccard on the 64-bit hash sets (equals string-set
    Jaccard up to a per-pair 2^-64 collision). Output: (id_a, id_b,
    jaccard) with id_a < id_b.

    Skew hardening (`collapse_exact`, on by default): documents with
    IDENTICAL shingle sets — boilerplate corpora's worst case, where every
    member shares every band key and the band self-join would put an
    O(group²) pair blow-up in one hot bucket — are collapsed to one
    representative (a groupBy on a commutative set fingerprint over the
    already-computed hashes) BEFORE banding; the collapse shuffle carries
    (set_key, sig, id) — k+5 ints per doc, never the hash arrays.
    Intra-group pairs are emitted directly as jaccard-1.0 rows via a
    distributed per-group combination expression, and verified
    representative pairs expand back through an explode-cross of the
    member lists that rode the verify joins (no extra shuffle). Result
    set is identical; the band join never sees a duplicate-set bucket.
    (An earlier ``split_dups`` router additionally semi/anti-joined a
    narrow duplicate-key table so only duplicate-group docs entered the
    collapse aggregate; it was RETIRED in round 7 — consecutive
    min-of-3 A/B trials at 200k and 400k mostly-unique docs landed
    inside the ±15% noise band in BOTH directions, so the router's two
    extra persists + probe joins cost what the avoided shuffle saved at
    every measurable scale. The measured-probe collapse decision below
    is the retained routing.)
    Residual near-identical (not equal) skew is split at runtime by AQE's
    skew-join (on in session defaults — spark.sql.adaptive.skewJoin).
    `max_group_pairs` guards the inherently-quadratic OUTPUT contract: a
    duplicate group needing more pairs than the cap raises with a pointer
    at exact_duplicates' cluster-style output instead of OOMing.

    The shingled base feeds multiple consumers (set-collapse + banding +
    both verify-join sides); persist_shingles caches the shared subplans
    (MEMORY_AND_DISK — spills, never OOMs) instead of re-tokenizing the
    corpus per consumer: ~2.5× faster at bench scale. Call
    :func:`release_cached` to reclaim executor storage in long-lived
    sessions. Disable to keep the operator fully streaming when the shingle
    set exceeds cluster storage (branches then recompute with column
    pruning).

    Verification makes the result exact-on-candidates: LSH only affects
    recall, never precision, so downstream joins see true Jaccard values.
    """
    rows = k // bands
    # the whole signature pipeline is built as SQL text (_shingles_sql &
    # co.) — one F.expr parse instead of thousands of py4j Column calls;
    # see the SQL-text builders note above. The source plan is probed for
    # its size estimate ONCE, shared by the _spread split-count decision
    # and the collapse auto-gate (each probe is a full analysis pass —
    # ~45 ms of driver time apiece on a fresh plan).
    est = _plan_size_bytes(df)
    hp_base = _hp_frame(df, id_col, text_col, n, est_bytes=est)
    if persist_shingles:
        hp_base = _persist(hp_base)

    if isinstance(collapse_exact, str):
        if collapse_exact != "auto":
            raise ValueError(
                "collapse_exact must be True, False or 'auto', "
                f"got {collapse_exact!r}"
            )
        # The collapse (groupBy + member expansion + intra-group pair
        # generator) only pays for itself when identical-set GROUPS are
        # big enough to threaten the band join with O(g²) buckets; on a
        # low-duplication corpus it is a measured ~0.7 s of pure plan
        # overhead at sf0.1 (A/B: 3.30 s with vs 2.58 s without,
        # identical output — verification is exact either way). The
        # routing signal CANNOT be the size estimate alone: duplication
        # IS compressibility, so a dup-heavy corpus hides under the
        # threshold (the ×50 blow-up compresses 135 MB of text into a
        # 2.7 MB parquet and mis-routed to plain at 2.3× the cost —
        # SKEWCHECK r5). Routing:
        #   est ≥ threshold (or unknown) → collapse ON, no probe — at
        #     scale the insurance is mandatory and a probe would cost a
        #     full keyed shuffle of the big corpus;
        #   est < threshold → probe the EXACT max identical-set group
        #     size (one narrow map-side-combined groupBy over 5-int
        #     fingerprints — cost bounded by the corpus being small, and
        #     it materializes the shared hp_base cache the main query
        #     reuses) and take plain banding only when the worst group
        #     is trivially small. Probe requires the persisted base;
        #     persist_shingles=False skips it and keeps collapse on.
        if est is None or est >= COLLAPSE_EXACT_AUTO_THRESHOLD_BYTES:
            collapse_exact = True
        elif not persist_shingles:
            collapse_exact = True
        else:
            # memoized per source plan (semantic hash): the probe's
            # answer is a property of the DATA, which is immutable for
            # the life of a session in this engine's usage (same
            # assumption the ANN index cache keys on); repeated calls on
            # the same input — benchmarks, retries, notebook reruns —
            # pay the probe job once. The memo deliberately SURVIVES
            # release_cached() (it holds routing booleans, not executor
            # storage); if a source is rewritten in place with the same
            # plan hash, call reset_collapse_probe_memo() to force a
            # re-probe (a stale entry mis-routes performance only —
            # verification is exact on either route).
            try:
                memo_key = df.semanticHash()
            except Exception:
                memo_key = None
            if memo_key is not None and memo_key in _COLLAPSE_PROBE_MEMO:
                collapse_exact = _COLLAPSE_PROBE_MEMO[memo_key]
            else:
                max_grp = (
                    hp_base.select(F.expr(_set_key_sql("hp")).alias("sk"))
                    .groupBy("sk")
                    .agg(F.count("*").alias("c"))
                    .agg(F.max("c").alias("m"))
                    .first()["m"]
                )
                collapse_exact = (max_grp or 0) > PLAIN_ROUTE_MAX_GROUP
                if memo_key is not None:
                    _COLLAPSE_PROBE_MEMO[memo_key] = collapse_exact

    groups = None
    if collapse_exact:
        # set_key and the minhash signature are computed in the same
        # map-side projection. The collapse groupBy key is ONLY the 5-int
        # set_key fingerprint — an identical set implies an identical
        # signature, so the signature rides the aggregate as first(sig)
        # instead of bloating the shuffle/grouping key with a k-long array
        # (grouping by the array was measured ~6× slower: every hash/
        # compare touches 64 longs). The shuffle carries (set_key, sig,
        # id) — k+5 ints per doc, never the hash arrays.
        keyed = hp_base.select(
            "id",
            F.expr(_set_key_sql("hp")).alias("set_key"),
            F.expr(_sig_sql("hp", k)).alias("sig"),
        )
        groups = keyed.groupBy("set_key").agg(
            F.first("sig").alias("sig"),
            F.min("id").alias("rep"),
            F.sort_array(F.collect_list("id")).alias("members"),
        )
        if persist_shingles:
            # feeds banding, the member expansion, and the intra-group
            # pair generator
            groups = _persist(groups)
        banded = groups.select(
            F.col("rep").alias("id"),
            F.explode(F.expr(_bands_sql("sig", bands, rows))).alias("band"),
        )
        # no banded persist here: both self-join sides re-derive the band
        # keys with one cheap hash pass over the already-cached keyed/
        # groups rows — the expensive signature pipeline never re-runs
    else:
        banded = (
            hp_base.withColumn("sig", F.expr(_sig_sql("hp", k)))
            .select(
                "id",
                F.explode(
                    F.expr(_bands_sql("sig", bands, rows))
                ).alias("band"),
            )
        )
        if persist_shingles:
            # the band self-join references `banded` twice; when the
            # planner picks a broadcast join there is no exchange to
            # reuse, so without this cache the whole signature pipeline
            # (k×array_min over the shingle hashes) would execute on BOTH
            # sides. (id, band) is two ints per doc per band — tiny even
            # at 100 TB corpus scale.
            banded = _persist(banded)

    candidates = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    paired = (
        candidates.join(
            hp_base.select(
                F.col("id").alias("id_a"), F.col("hp").alias("sh_a")
            ),
            "id_a",
        )
        .join(
            hp_base.select(
                F.col("id").alias("id_b"), F.col("hp").alias("sh_b")
            ),
            "id_b",
        )
    )

    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    # one projection + one filter (not withColumn/filter/select): every
    # DataFrame op is an eager JVM analysis pass over the whole plan, and
    # this is deep in the tree — fewer ops, same semantics
    verified = paired.select(
        "id_a", "id_b", F.round(inter / union, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)
    if not collapse_exact:
        return verified

    # expand representative pairs back to member pairs (same jaccard for
    # every cross pair of the two identical-set groups). The membership
    # sides carry ONLY duplicate-set groups (singleton groups — the
    # overwhelming majority — are filtered out), so they stay narrow
    # (dup reps × members) and AQE broadcasts them against the
    # post-threshold candidate set. The joins are LEFT with identity
    # fallback: a verified id with no dup-group row is its own (sole)
    # member.
    n_members = F.size("members")
    dup_groups = groups.filter(n_members > 1)
    ma = dup_groups.select(
        F.col("rep").alias("id_a"), F.explode("members").alias("m_a")
    )
    mb = dup_groups.select(
        F.col("rep").alias("id_b"), F.explode("members").alias("m_b")
    )
    cross = (
        verified.join(ma, "id_a", "left")
        .join(mb, "id_b", "left")
        .select(
            F.least(
                F.coalesce("m_a", "id_a"), F.coalesce("m_b", "id_b")
            ).alias("id_a"),
            F.greatest(
                F.coalesce("m_a", "id_a"), F.coalesce("m_b", "id_b")
            ).alias("id_b"),
            "jaccard",
        )
    )
    n_pairs = (n_members * (n_members - F.lit(1)) / 2).cast("long")
    guard_msg = F.concat(
        F.lit(
            "duplicate group exceeds max_group_pairs="
            f"{max_group_pairs}; the all-pairs output contract is quadratic"
            " in group size — use exact_duplicates for cluster-style"
            " output. rep="
        ),
        F.col("rep").cast("string"),
    )
    # the guard lives INSIDE the exploded expression (a free-standing
    # assert column would be pruned away as unused)
    guarded_pairs = F.when(
        n_pairs <= max_group_pairs, F.expr(_MEMBER_PAIRS_SQL)
    ).otherwise(F.raise_error(guard_msg))
    intra = (
        dup_groups.filter(n_members > 1)
        .select(F.explode(guarded_pairs).alias("p"))
        .select(
            F.col("p.x").alias("id_a"),
            F.col("p.y").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(intra)


def hot_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """Audit for the ``max_shingle_df`` cap in :func:`ngram_jaccard_pairs`
    / :func:`containment_pairs`: the shingles the cap DROPS, with their
    document frequency → (s, df), df desc. Run this before committing to
    a cap value on a new corpus — it shows exactly which boilerplate
    n-grams stop contributing to intersections, and how hot the hottest
    one is (the uncapped join's fan-out is Σ df² over these rows)."""
    sh = (
        _spread(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        .withColumn("_toks", F.expr(_toks_sql(text_col)))
        .select(
            "id",
            F.explode(F.expr(_shingles_from_toks_sql("_toks", n))).alias("s"),
        )
    )
    return (
        sh.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_shingle_df)
        .orderBy(F.col("df").desc(), "s")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join.

    explode distinct shingles → self-join on shingle → per-pair intersection
    count → Jaccard from set sizes. Exact (no LSH recall loss); the shingle
    join IS the cost — use minhash_near_duplicates at scale. Serves as the
    correctness oracle for the LSH path.

    ``max_shingle_df`` (same knob as :func:`containment_pairs`): a shingle
    appearing in more than that many documents — boilerplate n-grams, the
    join's quadratic hot spot (fan-out df² per shingle) — is dropped from
    the index before pairing. Capped runs under-count intersections for
    pairs that only share boilerplate (a desirable bias for near-dup
    mining on boilerplate-heavy corpora) and are no longer exact — None
    (default) keeps the operator exact, the configuration the DuckDB
    oracle checks. :func:`hot_shingles` previews what a cap drops;
    scripts/skew_blowup.py records a boilerplate corpus where the capped
    path completes and the uncapped join's fan-out is measured
    superlinear.
    """
    sh = (
        _spread(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        # staged tokenization: split once, not per shingle-expr reference
        .withColumn("_toks", F.expr(_toks_sql(text_col)))
        .select(
            "id",
            F.explode(F.expr(_shingles_from_toks_sql("_toks", n))).alias("s"),
        )
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("s")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("s")
        )
        sh = sh.join(rare, "s")
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "s")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(text: Column | str) -> Column:
    """64-bit SimHash over whitespace tokens, pure array expressions:
    per-token xxhash64 → ±1 vote per bit → sign fold to a LONG. Map-side
    only; hamming-distance bucketing joins on the result column."""
    toks = tokens(text)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))

    def bit_votes(h: Column) -> Column:
        # ±1 per bit; shift counts must be Python ints (shiftright does not
        # accept a Column), so expand the fixed 64-bit range here
        return F.array(
            *[
                (F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1).cast("int")
                for i in range(64)
            ]
        )

    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(acc, bit_votes(h), lambda a, b: a + b),
    )
    # fold positive-vote bits back into one signed 64-bit value; bit 63 is
    # the sign bit, added as its two's-complement value
    # sign-fold to a LONG referencing `votes` exactly ONCE (as zip_with's
    # argument): a 64-term element_at(votes, i) sum would inline the
    # ENTIRE vote fold 64× per row — higher-order exprs sit outside
    # codegen's subexpression elimination, so each bit re-ran the whole
    # per-token aggregation (measured ~10× slower at sf0.01). Bit weights
    # ride a literal array; bit 63 carries the long sign.
    weights = F.array(
        *[
            F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")
            for i in range(64)
        ]
    )
    contrib = F.zip_with(
        votes,
        weights,
        lambda v, w: F.when(v > 0, w).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(
        contrib, F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def simhash64_md5(text: Column | str) -> Column:
    """64-bit SimHash over whitespace tokens with md5-derived token bits.

    Same vote/fold semantics as :func:`simhash64`, but the per-token hash is
    the first 64 bits of ``md5(token)`` read as a big-endian hex bitstream
    (bit *i* = bit ``3 - i%4`` of hex digit ``i//4``). md5 exists identically
    in Spark and DuckDB, so this variant is cross-engine deterministic and
    oracle-checkable; keep :func:`simhash64` (xxhash64) as the faster scale
    path when no external oracle is needed."""
    toks = tokens(text)
    md5s = F.transform(toks, lambda t: F.md5(t))

    def bit_votes(m: Column) -> Column:
        # each hex digit decodes ONCE (as transform's element variable),
        # then fans out to its 4 bit votes via flatten — an indexed
        # digits[i // 4] list would inline every conv 4× (higher-order
        # exprs get no codegen subexpression elimination). Digit k covers
        # bits 4k..4k+3, matching the documented bit order.
        digit_arr = F.transform(
            F.slice(F.split(m, ""), 1, 16),
            lambda c: F.conv(c, 16, 10).cast("int"),
        )
        return F.flatten(
            F.transform(
                digit_arr,
                lambda d: F.array(
                    *[
                        (
                            F.shiftright(d, 3 - j).bitwiseAND(F.lit(1)) * 2
                            - 1
                        ).cast("int")
                        for j in range(4)
                    ]
                ),
            )
        )

    votes = F.aggregate(
        md5s,
        F.array_repeat(F.lit(0), 64),
        lambda acc, m: F.zip_with(acc, bit_votes(m), lambda a, b: a + b),
    )
    # sign-fold to a LONG referencing `votes` exactly ONCE (as zip_with's
    # argument): a 64-term element_at(votes, i) sum would inline the
    # ENTIRE vote fold 64× per row — higher-order exprs sit outside
    # codegen's subexpression elimination, so each bit re-ran the whole
    # per-token aggregation (measured ~10× slower at sf0.01). Bit weights
    # ride a literal array; bit 63 carries the long sign.
    weights = F.array(
        *[
            F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")
            for i in range(64)
        ]
    )
    contrib = F.zip_with(
        votes,
        weights,
        lambda v, w: F.when(v > 0, w).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(
        contrib, F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: signature (map-side) → 4-block bucketing
    (pigeonhole: ≤3 differing bits ⇒ at least one identical 16-bit block) →
    exact hamming verify on candidates. Output (id_a, id_b, hamming)."""
    sig = _spread(df.select(F.col(id_col).alias("id"), F.col(text_col))).select(
        "id", simhash64(text_col).alias("sig")
    )
    blocks = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block_no"),
                        F.shiftright(F.col("sig"), b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("block"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("id", "sig", F.col("bk.block_no"), F.col("bk.block"))
    cands = (
        blocks.alias("a")
        .join(
            blocks.alias("b"),
            (F.col("a.block_no") == F.col("b.block_no"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cands.withColumn("hamming", hamming64(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------

def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns, pure Catalyst:
    zip_with dot product / norms."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda v: F.sqrt(  # noqa: E731
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return dot / (norm(a) * norm(b))


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    method: str = "lsh",
    **method_kwargs,
) -> DataFrame:
    """Embedding near-dup pairs — DEFAULT is the SRP-bucketed scale path
    (:func:`embedding_near_duplicates_lsh`): candidate pairs come from
    hamming-ball bucket collisions, exact cosine verify only on candidates;
    no all-pairs term anywhere, safe at 100 TB. Recall tunes with
    ``n_planes``/``probe_radius`` passed through ``method_kwargs``.

    BEHAVIOR CHANGE (round 3): this name previously ran the exact blocked
    all-pairs form and now defaults to the approximate LSH path — recall
    can be < 1, so callers relying on exhaustive pairs get silently fewer
    rows unless they opt back in. The routing is now EXPLICIT: pass
    ``method="exact"`` for the old exhaustive behavior
    (:func:`embedding_near_duplicates_exact`, O(n²) — small corpora only)
    or ``method="lsh"`` (default) for the scale path."""
    if method == "exact":
        return embedding_near_duplicates_exact(
            df,
            id_col=id_col,
            vec_col=vec_col,
            threshold=threshold,
            **method_kwargs,
        )
    if method != "lsh":
        raise ValueError(f"method must be 'lsh' or 'exact', got {method!r}")
    return embedding_near_duplicates_lsh(
        df,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        **method_kwargs,
    )


def embedding_near_duplicates_exact(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    blocks: int | None = None,
) -> DataFrame:
    """Exact embedding near-dup pairs by cosine ≥ threshold (rounded to 6).

    Small-scale ORACLE only — inherently O(n²); beyond ~10⁵ rows use
    :func:`embedding_near_duplicates` (LSH-bucketed, the default).

    Blocked all-pairs: rows hash into B blocks; each row is shuffled to the
    B block-pair groups it participates in, and each group computes its
    cross-similarities as ONE numpy matrix product (Arrow-batched
    applyInPandas — vectorized BLAS, not an interpreted per-pair lambda).
    Every unordered pair lands in exactly one group, so the result is exact
    with no dedup pass. Shuffle volume is B× the (id, vec) projection; work
    is the inherent O(n²) flops, done at matrix speed. For corpora where
    even that is too big, prefilter candidates with random-hyperplane LSH
    (similarity.hyperplane_signature) and verify pairs here."""
    spark = df.sparkSession
    B = blocks or min(16, max(2, spark.sparkContext.defaultParallelism))

    v = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("blk"),
    )
    # replicate each row to every block-pair group (blk, j): group key packs
    # (min, max) so (i, j) and (j, i) meet in the same group exactly once
    replicated = v.select(
        "id",
        "vec",
        "blk",
        F.explode(F.array(*[F.lit(j) for j in range(B)])).alias("other"),
    ).select(
        "id",
        "vec",
        "blk",
        (
            F.least("blk", "other") * B + F.greatest("blk", "other")
        ).alias("grp"),
    )

    def pair_sims(pdf):
        import numpy as np
        import pandas as pd

        grp = int(pdf["grp"].iloc[0])
        bi, bj = grp // B, grp % B
        mat = np.array(pdf["vec"].tolist(), dtype=np.float64)
        ids = pdf["id"].to_numpy()
        blk = pdf["blk"].to_numpy()
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = np.nan  # zero vectors: cosine undefined → drop
        unit = mat / norms[:, None]
        if bi == bj:
            sims = unit @ unit.T
            iu, ju = np.triu_indices(len(ids), k=1)
            ia, ib, s = ids[iu], ids[ju], sims[iu, ju]
        else:
            mi, mj = blk == bi, blk == bj
            sims = unit[mi] @ unit[mj].T
            ii, jj = np.nonzero(np.ones_like(sims, dtype=bool))
            ia, ib, s = ids[mi][ii], ids[mj][jj], sims[ii, jj]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        s = np.round(s, 6)
        keep = s >= threshold  # NaN compares False → zero vectors drop out
        return pd.DataFrame(
            {"id_a": lo[keep], "id_b": hi[keep], "cosine": s[keep]}
        )

    return replicated.groupBy("grp").applyInPandas(
        pair_sims, schema="id_a long, id_b long, cosine double"
    )


def _srp_candidates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    radius: int,
    seed: int,
    dim: int,
):
    """Shared SRP candidate generation: signature → hamming-ball probe →
    bucket equi-join. Returns (persisted base with id/vec/sig, candidate
    pair frame id_a < id_b). Used by the near-dup operator and by the
    pruning-economics probe :func:`embedding_lsh_candidate_stats`."""
    from .similarity import hamming_ball_masks_col, hyperplane_signature

    masks_col = hamming_ball_masks_col(n_planes, radius)

    base = _spread(
        df.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
    ).withColumn(
        "sig",
        hyperplane_signature("CAST(vec AS array<double>)", n_planes, dim, seed),
    )
    base = _persist(base)

    # narrow probe stream: (id, probed bucket) — the vector does NOT ride
    # the |masks|× replication; at 100 TB this shuffle is linear in corpus
    # size × ball size, never quadratic.
    probes = base.select(
        "id",
        "sig",
        F.explode(masks_col).alias("m"),
    ).select("id", F.col("m").bitwiseXOR(F.col("sig")).alias("probe_sig"))

    candidates = (
        probes.alias("p")
        .join(
            base.select("id", "sig").alias("b"),
            (F.col("p.probe_sig") == F.col("b.sig"))
            & (F.col("p.id") < F.col("b.id")),
        )
        .select(F.col("p.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    return base, candidates


def embedding_lsh_candidate_stats(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 16,
    probe_radius: int | None = None,
    sigmas: float = 3.0,
    seed: int = 42,
    dim: int | None = None,
) -> dict:
    """Measure the SRP probe's pruning economics on real data: counts the
    CANDIDATE pairs the hamming-ball bucket join would verify, against the
    n·(n−1)/2 all-pairs total. Returns
    ``{n, radius, ball_buckets, total_pairs, candidate_pairs,
    candidate_fraction}`` — the number the bench logs next to e05b so the
    recorded profile shows measured pruning, not a claimed one."""
    from .similarity import hamming_ball_masks, probe_radius_for

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    radius = (
        probe_radius
        if probe_radius is not None
        else probe_radius_for(threshold, n_planes, sigmas)
    )
    base, candidates = _srp_candidates(
        df, id_col, vec_col, n_planes, radius, seed, dim
    )
    n = base.count()
    n_cand = candidates.count()
    total = n * (n - 1) // 2
    return {
        "n": n,
        "radius": radius,
        "ball_buckets": len(hamming_ball_masks(n_planes, radius)),
        "total_pairs": total,
        "candidate_pairs": n_cand,
        "candidate_fraction": round(n_cand / total, 6) if total else 0.0,
    }


def embedding_near_duplicates_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 8,
    probe_radius: int | None = None,
    seed: int = 42,
    dim: int | None = None,
    sigmas: float = 3.0,
) -> DataFrame:
    """Embedding near-dup pairs via SRP-bucketed candidate generation +
    exact cosine verification — the scale path (and
    :func:`embedding_near_duplicates`' default) replacing the blocked
    all-pairs :func:`embedding_near_duplicates_exact` (which stays as the
    exact small-scale oracle).

    Shape mirrors :func:`minhash_near_duplicates`: signature (map-side SRP,
    similarity.hyperplane_signature) → one-sided hamming-ball probe (each
    row explodes to sig XOR mask for every ≤radius-bit mask — NARROW rows,
    two ints) → equi-join on the probed bucket key → exact cosine verify
    with vectors joined back by id only for candidates. A pair at hamming d
    collides via exactly one mask (the XOR of its signatures), and the
    probe-side < base-side id filter keeps each unordered pair once, so no
    dedup pass is needed.

    Candidate volume scales with the ball coverage C(n_planes, ≤radius)/2^n.
    At real near-dup thresholds the mean signature hamming is small (cosine
    0.9 ⇒ mean ~2.3 of 16) and pruning is strong; the default radius
    (binomial mean+3σ via similarity.probe_radius_for) buys ~99.9% recall
    AT the threshold — callers trade `sigmas` down (or pass probe_radius)
    for cheaper probing when approximate recall suffices. At loose
    thresholds the radius approaches n_planes and the candidate COUNT
    degrades toward all-pairs, but the plan stays a bucketed equi-join:
    bounded memory per task, no cartesian/BNL node, and vectors move only
    for candidates. Output (id_a, id_b, cosine), id_a < id_b, cosine
    rounded to 6 — identical to embedding_near_duplicates_exact.
    """
    from .similarity import (
        probe_radius_for,
    )

    if dim is None:
        first = df.select(vec_col).first()
        dim = len(first[0])
    radius = (
        probe_radius
        if probe_radius is not None
        else probe_radius_for(threshold, n_planes, sigmas)
    )
    base, candidates = _srp_candidates(
        df, id_col, vec_col, n_planes, radius, seed, dim
    )

    # Per-VECTOR norms are computed once on the n-row base and carried
    # through the candidate joins (r14-opt, guide §2.3: do per-row work
    # before the pair explosion): the verify used to evaluate three
    # array aggregates per CANDIDATE (dot + both norms) — at real
    # candidate volumes that is 3x the higher-order-function work for
    # values that only depend on the vector. Same expression per
    # vector, so every cosine is bit-identical to the fused form.
    vnorm = F.sqrt(
        F.aggregate(F.col("vec"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    va = base.select(
        F.col("id").alias("id_a"), F.col("vec").alias("va"),
        vnorm.alias("_na"),
    )
    vb = base.select(
        F.col("id").alias("id_b"), F.col("vec").alias("vb"),
        vnorm.alias("_nb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine",
            F.round(dot / (F.col("_na") * F.col("_nb")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components over an undirected pair list → (id, cluster_id)
    with cluster_id = min member id. The grouping step every dedup pipeline
    needs after pair discovery: near-duplicate PAIRS become duplicate
    CLUSTERS (keep one representative per component, drop the rest).

    Distributed min-label propagation: each round every node sends its
    current label to its neighbors and keeps the minimum seen
    (edge join + min-combine groupBy — two narrow shuffles of (id, label)
    int pairs per round). Converges in O(component diameter) rounds, and
    near-duplicate components are shallow (stars/cliques around shared
    content), so 2-4 rounds dominate in practice; `max_iterations` bounds
    adversarial chains. Convergence is detected by the strictly-decreasing
    sum of labels reaching a fixpoint — one cheap aggregate per round, no
    old-vs-new join. Each round `localCheckpoint`s the label table: the
    iteration would otherwise stack an exponentially deep lineage that
    re-executes every prior round on each action (on a cluster, use a
    durable `checkpoint` dir instead for executor-loss recovery).

    Only ids appearing in `pairs` are labeled — callers wanting singleton
    clusters can union the unpaired ids with label = own id afterwards.
    """
    edges = pairs.select(
        F.col(a_col).cast("long").alias("src"),
        F.col(b_col).cast("long").alias("dst"),
    )
    edges = (
        edges.unionByName(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
        # r15-opt (guide §2.4 — establish the partitioning once): the
        # distinct leaves the persisted table hash-partitioned on
        # (src, dst), so EVERY propagation round re-exchanged it to
        # join on src. One repartition at build time makes the cached
        # layout the join's own, and each round shuffles only the
        # (id, label) table.
        .repartition("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _CACHED.append(edges)

    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    if prev_sum is None:
        return labels.select("id", F.col("label").alias("cluster_id"))

    for _ in range(max_iterations):
        msgs = (
            edges.join(labels, edges["src"] == labels["id"])
            .select(F.col("dst").alias("id"), "label")
        )
        labels = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        new_sum = labels.agg(F.sum("label")).first()[0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum

    return labels.select("id", F.col("label").alias("cluster_id"))


def duplicate_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    **minhash_kwargs,
) -> DataFrame:
    """Near-duplicate CLUSTERS: MinHash+LSH pair discovery
    (:func:`minhash_near_duplicates`) piped into
    :func:`connected_components`. Output (doc_id, cluster_id) covers only
    documents that have at least one near-duplicate; cluster_id is the
    minimum doc id of the component — the canonical "keep this one"
    representative."""
    pairs = minhash_near_duplicates(
        df, id_col=id_col, text_col=text_col, threshold=threshold,
        **minhash_kwargs,
    )
    return connected_components(pairs).select(
        F.col("id").alias(id_col), "cluster_id"
    )


# ---------------------------------------------------------------------------
# incremental dedup: persisted MinHash index + batch-vs-corpus query
# ---------------------------------------------------------------------------

def build_minhash_index(
    df: DataFrame,
    table_prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    buckets: int = 32,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize the corpus MinHash index ONCE, as two bucketed tables:

    - ``{table_prefix}_bands`` (band, id), bucketed on ``band``
    - ``{table_prefix}_hp``    (id, hp),  bucketed+sorted on ``id``

    This is the ingestion-time half of incremental dedup — the 100 TB
    pattern where each new batch is checked against the corpus WITHOUT
    re-shingling or re-signing it (the corpus-wide signature scan is paid
    once here, amortized over every later batch; same design as
    similarity.build_ann_index). Bucketing pre-pays the join shuffles:
    incremental_near_duplicates joins candidates on band and fetches
    verify sets by id with NO corpus-side Exchange in either join.
    ``path`` places the table data outside the warehouse dir (external
    tables)."""
    rows = k // bands
    hp = _hp_frame(df, id_col, text_col, n)
    banded = (
        hp.withColumn("sig", F.expr(_sig_sql("hp", k)))
        .select(
            "id",
            F.explode(F.expr(_bands_sql("sig", bands, rows))).alias("band"),
        )
    )
    write_bucketed(
        banded,
        f"{table_prefix}_bands",
        "band",
        buckets=buckets,
        mode=mode,
        path=None if path is None else f"{path}/bands",
    )
    write_bucketed(
        hp,
        f"{table_prefix}_hp",
        "id",
        buckets=buckets,
        mode=mode,
        path=None if path is None else f"{path}/hp",
    )


def incremental_near_duplicates(
    batch: DataFrame,
    spark,
    table_prefix: str,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs between a NEW batch and an indexed corpus
    (build_minhash_index) → (id_new, id_old, jaccard), exact-verified.

    Only the batch is shingled/signed — the corpus work was paid at index
    build. The band join's corpus side is bucketed on band and the verify
    fetch's corpus side is bucketed on id, so neither join re-shuffles the
    corpus: the batch (small by definition) shuffles into the corpus
    bucketing, and AQE broadcasts the batch sides outright when they fit.
    Batch rows whose id already exists in the corpus skip their self-pair.
    LSH params (n, k, bands) must match the ones the index was built with.

    ``exclude_ids`` (a frame carrying ``id_col``): corpus rows with
    these ids are ignored — run_dedup_stream passes the batch's own ids
    so a crash-replay whose earlier attempt already appended the batch
    to the index reproduces the ORIGINAL decisions instead of flagging
    batch docs against their own index rows. The exclusion side is
    broadcast (micro-batch sized), so the corpus keeps its
    zero-Exchange plan."""
    rows = k // bands
    bhp = _persist(_hp_frame(batch, id_col, text_col, n))
    bband = (
        bhp.withColumn("sig", F.expr(_sig_sql("hp", k)))
        .select(
            "id",
            F.explode(F.expr(_bands_sql("sig", bands, rows))).alias("band"),
        )
    )
    corp_bands = spark.table(f"{table_prefix}_bands")
    corp_hp_src = spark.table(f"{table_prefix}_hp")
    if exclude_ids is not None:
        ex = F.broadcast(
            exclude_ids.select(F.col(id_col).alias("id")).distinct()
        )
        corp_bands = corp_bands.join(ex, "id", "left_anti")
        corp_hp_src = corp_hp_src.join(ex, "id", "left_anti")
    cand = (
        bband.select(F.col("id").alias("id_new"), "band")
        .join(corp_bands.select(F.col("id").alias("id_old"), "band"), "band")
        .filter(F.col("id_new") != F.col("id_old"))
        .select("id_new", "id_old")
        .dropDuplicates(["id_new", "id_old"])
    )
    corp_hp = corp_hp_src
    paired = cand.join(
        bhp.select(F.col("id").alias("id_new"), F.col("hp").alias("hp_new")),
        "id_new",
    ).join(
        corp_hp.select(
            F.col("id").alias("id_old"), F.col("hp").alias("hp_old")
        ),
        "id_old",
    )
    inter = F.size(F.array_intersect("hp_new", "hp_old")).cast("double")
    union = F.size(F.array_union("hp_new", "hp_old")).cast("double")
    return (
        paired.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_new", "id_old", "jaccard")
    )


def duplicate_weights(
    df: DataFrame, key_cols: list[str], id_col: str
) -> DataFrame:
    """Soft dedup: instead of DROPPING duplicates, assign every row a
    training weight of 1/n where n is its exact-duplicate group size, so
    each distinct content unit contributes total weight 1.0 to a
    downstream loss/sampler regardless of how many times it was crawled
    — the duplicate-down-weighting alternative to removal (used when
    duplication frequency itself carries signal, e.g. boilerplate vs
    popular quotes). Reference analogue: the checksum groups of
    `/root/reference/lambda_functions/tre-validate-bagit-files/checksum_lib.py`
    identify identical content; here the group size becomes a weight
    instead of a validation verdict.

    Output: (id_col, group_size, weight) — weight = round(1/n, 6), one
    row per INPUT row (cardinality-preserving, unlike exact_dedup).

    Scale shape: ONE shuffle — the null-safe key feeds a groupBy count,
    joined back co-keyed on the same hash (AQE broadcasts the count side
    when the distinct-key set is small; at 100 TB both sides partition
    on the identical key so the join adds no third shuffle). A window
    count-over-key would be the same single shuffle but forces the whole
    group through one in-memory pane; the groupBy+join form spills
    gracefully and keeps map-side partial aggregation."""
    key = _null_safe_key(key_cols)
    keyed = df.select(F.col(id_col), key.alias("_k"))
    sizes = keyed.groupBy("_k").agg(F.count("*").alias("group_size"))
    return keyed.join(sizes, "_k").select(
        id_col,
        F.col("group_size").cast("long").alias("group_size"),
        F.round(F.lit(1.0) / F.col("group_size").cast("double"), 6).alias(
            "weight"
        ),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Containment near-dup pairs: ``C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|``
    — the asymmetric companion to Jaccard that catches a document
    CONTAINED in a longer one (quote-in-article, chunk-in-original,
    version-subset), where Jaccard stays low because the union is
    dominated by the big side. Emits BOTH directions: one ordered row
    per (id_a, id_b), a ≠ b, with containment of a's shingle set in b's
    ≥ threshold — so "a is inside b" and "b is inside a" are separate,
    independently-thresholded facts.

    Same staged shingle machinery as :func:`ngram_jaccard_pairs`
    (tokenize once, distinct n-grams, inverted-index equi-join on the
    shingle — never a doc×doc cross join). The one extra scale knob is
    ``max_shingle_df``: a shingle appearing in more than that many
    documents (boilerplate n-grams — "all rights reserved") is dropped
    from the INDEX side before pairing, bounding the per-shingle join
    fan-out at the cost of slightly under-counting intersections for
    pairs that only share boilerplate; None (default) keeps the operator
    exact — the configuration the DuckDB oracle checks.
    """
    sh = (
        _spread(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        .withColumn("_toks", F.expr(_toks_sql(text_col)))
        .select(
            "id",
            F.explode(F.expr(_shingles_from_toks_sql("_toks", n))).alias("s"),
        )
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("s")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("s")
        )
        sh = sh.join(rare, "s")
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "s")
        .filter(F.col("a.id") != F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        pairs.join(
            sizes.withColumnRenamed("id", "id_a").withColumnRenamed(
                "n_sh", "n_a"
            ),
            "id_a",
        )
        .withColumn(
            "containment", F.round(F.col("n_inter") / F.col("n_a"), 6)
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
