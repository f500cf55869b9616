"""Deduplication operators for web-scale corpus curation.

Five strategies, cheapest-first:

  exact            hash-groupBy on normalized content       (shuffle on hash)
  ngram_jaccard    blocked pairwise Jaccard on shingle sets (block + shuffle)
  minhash_lsh      MinHash signatures + banded LSH buckets  (the 100TB path)
  simhash          64-bit SimHash + hamming-band buckets    (near-dup, cheap)
  embedding        cosine near-dup over embedding vectors   (semantic)

Scale design: every strategy avoids the O(n^2) global cross join —
candidate pairs come from equality joins on derived keys (content
hash, LSH band bucket, simhash band), so the heavy operation is always
a hash-partition shuffle Catalyst can plan, never a cartesian product.
MinHash signatures are computed with JVM-side expressions
(array_min over xxhash64 of shingles) — no Python in the scan.

The reference has no dedup operator; this implements the standard
MinHash/LSH construction (Broder 1997) and SimHash (Charikar 2002)
on the DataFrame API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# shared text prep
# ---------------------------------------------------------------------------

def normalized_text(col) -> F.Column:
    """Lowercase, collapse whitespace — the canonical form for hashing."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def tokens(col) -> F.Column:
    return F.split(normalized_text(col), " ")


def shingles(col, k: int = 3) -> F.Column:
    """Word k-shingles as an array<string> (JVM-side: split + transform
    over sequence — no UDF). Short docs (< k tokens) yield the whole
    doc as one shingle."""
    toks = tokens(col)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(
        n >= k,
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (the min-id one) per normalized-content
    hash. One shuffle on the 128-bit content hash; row_number inside
    the hash partition — robust even when duplicate rows share ids."""
    from pyspark.sql import Window

    h = F.md5(normalized_text(text_col))
    w = Window.partitionBy("_h").orderBy(id_col)
    return (
        df.withColumn("_h", h)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Duplicate clusters: (content_hash, n_dups, keep_id, dup_ids)."""
    return (
        df.select(F.md5(normalized_text(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("dup_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def flag_boilerplate_turns(
    df: DataFrame,
    min_convs: int = 10,
    text_col: str = "text",
    conv_col: str = "conv_id",
) -> DataFrame:
    """Flag turns whose EXACT text recurs across >= min_convs distinct
    conversations — repeated system prompts, canned greetings, tool
    banners. Adds is_boilerplate:boolean and bp_convs:long (the
    distinct-conversation count for flagged turns, 0 otherwise).

    100 TB design: the aggregation shuffles only (md5(text), conv_id)
    pairs — 32-byte hashes, never the text — and the qualifying set is
    small BY CONSTRUCTION (at most total_turns / min_convs distinct
    texts, and real boilerplate sets are tiny), so the join back is an
    explicit broadcast: no second shuffle of the corpus. countDistinct
    does the standard two-stage partial/final expand. md5 is 128-bit,
    so hash-equality stands in for text-equality (collision odds
    ~2^-128 — the same contract dedup_exact relies on).
    """
    h = F.md5(F.col(text_col))
    bp = (
        df.select(h.alias("_h"), F.col(conv_col))
        .groupBy("_h")
        .agg(F.countDistinct(conv_col).alias("bp_convs"))
        .filter(F.col("bp_convs") >= max(2, int(min_convs)))
    )
    out = df.withColumn("_h", h).join(F.broadcast(bp), "_h", "left")
    return (
        out.withColumn("is_boilerplate", F.col("bp_convs").isNotNull())
        .withColumn("bp_convs", F.coalesce(F.col("bp_convs"), F.lit(0)))
        .drop("_h")
    )


def remove_boilerplate_turns(df: DataFrame, min_convs: int = 10,
                             text_col: str = "text",
                             conv_col: str = "conv_id") -> DataFrame:
    """Drop cross-conversation boilerplate turns (see
    flag_boilerplate_turns)."""
    flagged = flag_boilerplate_turns(df, min_convs, text_col, conv_col)
    return flagged.filter(~F.col("is_boilerplate")).drop("is_boilerplate", "bp_convs")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(shingle_col, num_hashes: int = 128, seed: int = 42) -> F.Column:
    """num_hashes-wide MinHash signature over an ALREADY-MATERIALIZED
    shingle array column (pass a column reference, not the shingles()
    expression — otherwise the tokenization re-runs once per hash).
    Pure Column exprs; all mins evaluate in one codegen'd pass. Built
    as one transform over sequence(seed, seed+n-1) rather than n
    separate array_min subtrees — identical values (xxhash64 of the
    same (string, int) pair), ~n× smaller expression tree for Catalyst
    to analyze."""
    sh = F.col(shingle_col) if isinstance(shingle_col, str) else shingle_col
    seeds = F.sequence(F.lit(seed), F.lit(seed + num_hashes - 1))
    return F.transform(
        seeds, lambda i: F.array_min(F.transform(sh, lambda s: F.xxhash64(s, i)))
    )


def _band_buckets(bands: int, rows_per_band: int) -> F.Column:
    """array of per-band bucket hashes over the `_sig` column — one
    transform over sequence(0, bands-1); values identical to the
    unrolled F.array of per-band F.hash(slice, lit(b)) nodes it
    replaces (hash of the same (array<long>, int) pair)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.hash(
            F.slice(F.col("_sig"), b * rows_per_band + 1, F.lit(rows_per_band)), b
        ),
    )


def bands_for_threshold(threshold: float, num_hashes: int = 128) -> int:
    """Band count for a target Jaccard threshold: the FEWEST bands
    (cheapest explode + join) whose s-curve midpoint (1/b)^(1/r),
    r = num_hashes/b, sits at or below the threshold — so pairs AT the
    threshold collide with probability >~0.5 and recall rises steeply
    above it. The default b=16 over 128 hashes has midpoint ~0.71:
    right for J>=0.8 work, silently lossy below it — use this helper
    when deduping at lower thresholds.

    Recall table (num_hashes=128, P[collide] = 1-(1-s^r)^b at s=t):
        t>=0.80 -> b=16 (r=8,  midpoint 0.707, P=0.93 at t=0.8)
        t>=0.50 -> b=32 (r=4,  midpoint 0.420, P=0.87 at t=0.5)
        t>=0.30 -> b=64 (r=2,  midpoint 0.125, P=0.998 at t=0.3)
        below   -> b=128 (r=1: any shared min-hash collides)
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    divisors = [b for b in range(2, num_hashes + 1) if num_hashes % b == 0]
    for b in divisors:  # ascending: fewest bands first
        r = num_hashes // b
        if (1.0 / b) ** (1.0 / r) <= threshold:
            return b
    return num_hashes


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 16,
    seed: int = 42,
    persist_base: bool = True,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH: docs agreeing on ALL
    rows of any band collide. bands=16 over 128 hashes → r=8 rows/band
    (match probability s^8 per band; ~0.5 at s≈0.92) — tuned for
    threshold≈0.8 dedup. Below 0.8, pass
    bands=bands_for_threshold(t, num_hashes) or recall drops silently
    (see the recall table on that helper).

    Returns (id_a, id_b, inter, union_sz, jaccard) for candidates
    verified with EXACT shingle-set Jaccard (array_intersect/
    array_union — JVM-side). The only shuffles: one on band bucket,
    one self-join on bucket. persist_base caches the (id, shingles)
    projection so tokenization runs ONCE across the banding and verify
    passes (MEMORY_AND_DISK; pass False for fire-and-forget plans
    where recompute beats cache residency).
    """
    from swarm_spark.operators.util import spread

    rows_per_band = num_hashes // bands
    base = spread(df).select(
        F.col(id_col).alias("_id"), shingles(text_col).alias("_sh")
    )
    if persist_base:
        from pyspark import StorageLevel

        base = base.persist(StorageLevel.MEMORY_AND_DISK)
    base = base.withColumn("_sig", minhash_signature("_sh", num_hashes, seed))

    # Memory discipline at corpus scale: the 16-way band explode and
    # the bucket self-join move ONLY (id, band, bucket) — never the
    # shingle arrays. Shingles rejoin (two hash joins on id) solely
    # for the final exact-Jaccard verify over the deduped candidates.
    band_arr = _band_buckets(bands, rows_per_band)
    banded = base.select("_id", F.posexplode(band_arr).alias("_band", "_bucket"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bucket") == F.col("b._bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh = base.select("_id", "_sh")
    cand = (
        cand.join(sh.withColumnRenamed("_id", "id_a").withColumnRenamed("_sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("_id", "id_b").withColumnRenamed("_sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    # inter/union as exact INTEGERS alongside the float score: threshold
    # checks and oracle hashing use integer math (inter*1e6 >= t*union),
    # immune to float boundary flips across engines
    return cand.select(
        "id_a", "id_b",
        inter.alias("inter"), union.alias("union_sz"),
        (inter / union).alias("jaccard"),
    )


def minhash_band_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """The persistable LSH index: (id, band, bucket) rows — bands x
    n_docs rows of three ints, tiny next to the corpus. At 100 TB this
    table is what you STORE (e.g. an icepack table, appending each
    increment's rows) so that daily increments never re-signature the
    historical corpus. Same banding arithmetic as minhash_lsh_pairs —
    indexes built with identical (num_hashes, bands, seed) are
    join-compatible."""
    from swarm_spark.operators.util import spread

    rows_per_band = num_hashes // bands
    base = spread(df).select(F.col(id_col).alias("_id"), shingles(text_col).alias("_sh"))
    base = base.withColumn("_sig", minhash_signature("_sh", num_hashes, seed))
    band_arr = _band_buckets(bands, rows_per_band)
    return base.select("_id", F.posexplode(band_arr).alias("_band", "_bucket"))


def minhash_lsh_pairs_incremental(
    new_df: DataFrame,
    old_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 16,
    seed: int = 42,
    old_index: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs for a corpus INCREMENT: candidates are new x new
    and new x old — old x old pairs are never generated or verified,
    so a daily increment costs O(new x collision rate), not a corpus
    re-pair. Ids must be globally unique across both frames (the same
    contract an append-only corpus gives you).

    `old_index`: pass a stored minhash_band_index of the historical
    corpus (built with the SAME num_hashes/bands/seed) and the old
    side is never re-signatured either — the only touch on the old
    CORPUS is the shingle recompute for the (few) matched candidates,
    pruned with a broadcast semi-join on candidate ids before
    tokenization.

    Returns (id_a, id_b, kind, inter, union_sz, jaccard) with
    kind ∈ {'new_new', 'new_old'}; for new_new, id_a < id_b; for
    new_old, id_a is the new doc."""
    new_banded = minhash_band_index(new_df, text_col, id_col,
                                    num_hashes, bands, seed)
    old_banded = old_index if old_index is not None else minhash_band_index(
        old_df, text_col, id_col, num_hashes, bands, seed)

    a, b = new_banded.alias("a"), new_banded.alias("b")
    cand_nn = (
        a.join(b, (F.col("a._band") == F.col("b._band"))
               & (F.col("a._bucket") == F.col("b._bucket"))
               & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("kind", F.lit("new_new"))
    )
    o = old_banded.alias("o")
    cand_no = (
        a.join(o, (F.col("a._band") == F.col("o._band"))
               & (F.col("a._bucket") == F.col("o._bucket")))
        .select(F.col("a._id").alias("id_a"), F.col("o._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("kind", F.lit("new_old"))
    )
    cand = cand_nn.unionByName(cand_no)

    new_sh = new_df.select(F.col(id_col).alias("_id"),
                           shingles(text_col).alias("_sh"))
    # prune the old corpus to matched candidates BEFORE tokenizing
    old_ids = cand_no.select(F.col("id_b").alias(id_col)).distinct()
    old_sh = old_df.join(F.broadcast(old_ids), id_col, "left_semi") \
        .select(F.col(id_col).alias("_id"), shingles(text_col).alias("_sh"))
    sh = new_sh.unionByName(old_sh)
    cand = (
        cand.join(sh.withColumnRenamed("_id", "id_a").withColumnRenamed("_sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("_id", "id_b").withColumnRenamed("_sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return cand.select(
        "id_a", "id_b", "kind",
        inter.alias("inter"), union.alias("union_sz"),
        (inter / union).alias("jaccard"),
    )


def dedup_minhash_incremental(
    new_df: DataFrame,
    old_df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kw,
) -> DataFrame:
    """Admit only the increment's non-duplicates: a new doc is dropped
    if it matches the existing corpus (any new_old pair) or an
    earlier-id new doc (greedy min-id within the increment)."""
    pairs = minhash_lsh_pairs_incremental(
        new_df, old_df, text_col, id_col, **kw
    ).filter(F.col("inter") * 1_000_000 >= F.col("union_sz") * int(threshold * 1_000_000))
    losers_vs_old = pairs.filter(F.col("kind") == "new_old") \
        .select(F.col("id_a").alias(id_col))
    losers_in_new = pairs.filter(F.col("kind") == "new_new") \
        .select(F.col("id_b").alias(id_col))
    losers = losers_vs_old.unionByName(losers_in_new).distinct()
    return new_df.join(losers, id_col, "left_anti")


def dedup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    **kw,
) -> DataFrame:
    """Drop near-duplicates: for every verified pair with
    jaccard >= threshold, the larger id is removed (greedy min-id
    representative — one pass, no iterative connected components; for
    full transitive closure see cluster_pairs)."""
    pairs = minhash_lsh_pairs(df, text_col, id_col, **kw).filter(
        F.col("jaccard") >= threshold
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(col, hash_fn: str = "xxhash64") -> F.Column:
    """SimHash from token hashes, fully JVM-side: for each bit
    position, sign of sum over tokens of (+1 if bit set else -1).
    Expressed as one aggregate lambda per bit over the token-hash
    array — codegen'd, no Python.

    hash_fn:
      'xxhash64' — 64-bit JVM xxhash (the production path, fastest)
      'md5w60'   — 60-bit hash from the md5 hex prefix
                   (conv(substr(md5,1,15),16,10)); slower, but md5 is
                   portable so the signature is bit-identical in any
                   engine with md5 — the cross-engine-verifiable path
    """
    if hash_fn == "xxhash64":
        th = F.transform(tokens(col), lambda t: F.xxhash64(t))
        n_bits = 64
    elif hash_fn == "md5w60":
        th = F.transform(
            tokens(col),
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        )
        n_bits = 60
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")

    # ONE aggregate with an array-of-votes accumulator. The naive form
    # (one aggregate per bit) references the token-hash transform in
    # every lambda and Catalyst RE-INLINES it — the hash runs n_bits×
    # per token (measured 40 s for 5k docs on md5w60; ~2 s this way).
    masks = F.array(*[
        F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long")  # bit 63 = JVM sign bit
        for i in range(n_bits)
    ])
    votes = F.aggregate(
        th,
        F.array_repeat(F.lit(0).cast("long"), n_bits),
        lambda acc, h: F.zip_with(
            masks, acc,
            lambda m, a: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(masks, votes,
                   lambda m, v: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda a, b: a.bitwiseOR(b),
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
    max_bucket_ratio: float | None | str = "auto",
    guard_min_docs: int = 100_000,
    n_docs: int | None = None,
) -> DataFrame:
    """Near-dup candidates: split the simhash into (max_hamming+1)
    bands; pairs within max_hamming hamming distance must agree
    exactly on ≥1 band (pigeonhole — EXACT recall, not probabilistic).
    Equality join on (band_idx, band_value), then exact hamming verify
    via bit_count(xor): the result set equals the all-pairs exact
    answer, which is what the DuckDB oracle recomputes for md5w60.

    Hot-bucket guard (the simhash twin of the stop-shingle guard):
    simhash is a majority vote over TOKENS WITH REPEATS, so a dominant
    repeated token collapses many docs onto near-identical signatures
    — one band bucket then holds a large doc fraction and the
    self-join emits O(df²) candidates (measured: a pathological 50k
    corpus produced 1.25e8 pairs). With max_bucket_ratio ('auto':
    0.01 once the corpus exceeds guard_min_docs), buckets holding more
    than that fraction of docs are dropped from candidate generation;
    pairs agreeing ONLY on a dropped band are missed (documented
    recall trade, same as the stop-shingle guard).

    n_docs: optional row-count HINT. The 'auto' guard needs the corpus
    size; without the hint it runs an eager df.count() at plan-build
    time (cheap — usually parquet metadata — but an action composed
    pipelines may not want). Pass the known count to keep this a pure
    plan builder."""
    from swarm_spark.operators.util import spread

    nb = max_hamming + 1
    n_bits = 60 if hash_fn == "md5w60" else 64
    width = n_bits // nb
    sh = spread(df).select(F.col(id_col).alias("_id"),
                           simhash64(text_col, hash_fn).alias("_sh"))
    bands = F.array(*[
        F.shiftrightunsigned(F.col("_sh"), i * width).bitwiseAND(F.lit((1 << width) - 1).cast("long"))
        for i in range(nb)
    ])
    banded = sh.select("_id", "_sh", F.posexplode(bands).alias("_band", "_bv"))

    if max_bucket_ratio == "auto":
        if n_docs is None:
            n_docs = df.count()  # cheap narrow count of the input
        max_bucket_ratio = 0.01 if n_docs > guard_min_docs else None
    if max_bucket_ratio is not None:
        if n_docs is None:
            n_docs = df.count()
        hot = (
            banded.groupBy("_band", "_bv")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_bucket_ratio * n_docs)
            .select("_band", "_bv")
        )
        banded = banded.join(F.broadcast(hot), ["_band", "_bv"], "left_anti")

    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bv") == F.col("b._bv"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(F.col("a._sh").bitwiseXOR(F.col("b._sh"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# blocked n-gram Jaccard (exact, for moderate blocks)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
) -> DataFrame:
    """Exact Jaccard over word k-shingles within blocks. Blocking keeps
    the self-join bounded: by default blocks on the doc's min shingle
    hash (docs sharing no shingle can't have J>0... and J≥0.5 pairs
    share their min-hash shingle with probability ≥ threshold).
    For guaranteed recall at scale use minhash_lsh_pairs."""
    base = df.select(F.col(id_col).alias("_id"), shingles(text_col, k).alias("_sh"))
    if block_col:
        base = base.join(df.select(F.col(id_col).alias("_id"), F.col(block_col).alias("_blk")), "_id")
    else:
        base = base.withColumn(
            "_blk", F.array_min(F.transform("_sh", lambda s: F.xxhash64(s)))
        )
    a, b = base.alias("a"), base.alias("b")
    inter = F.size(F.array_intersect(F.col("a._sh"), F.col("b._sh")))
    union = F.size(F.array_union(F.col("a._sh"), F.col("b._sh")))
    return (
        a.join(b, (F.col("a._blk") == F.col("b._blk")) & (F.col("a._id") < F.col("b._id")))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            (inter / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs_inverted(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.2,
    max_doc_ratio: float | None | str = "auto",
    guard_min_docs: int = 100_000,
    persist_base: bool = True,
    n_docs: int | None = None,
    max_docs: int | None = 100_000,
) -> DataFrame:
    """EXACT Jaccard for every pair sharing ≥1 shingle, via an
    inverted-index join: explode shingles → equi-join on shingle →
    count common shingles per pair → J = |∩| / (|A|+|B|-|∩|).

    SCALE LIMIT — this is an EXACT path for MODERATE BLOCKS, not a
    corpus-scale operator. The shingle equi-join's intermediate is
    sum over shingles of df(s)^2 pairs, which grows SUPERLINEARLY in
    corpus size even with the skew guard on (measured, SCALE.md
    "Dedup at corpus scale": 10× docs → ~40× wall; 1,091 s at 50k
    docs vs 10.6 s for MinHash). Use it for ≤~10k-doc blocks (e.g.
    within a partition/topic key) or to re-verify candidate pairs
    from minhash_lsh_pairs with exact scores; at corpus scale use
    minhash_lsh_pairs. Calls on >max_docs docs raise (pass
    max_docs=None after reading this to proceed anyway).

    Stop-shingle filtering (drop shingles appearing in >p% of docs)
    bounds the SKEW blowup of a single hot shingle — DEFAULT-ON
    ('auto': engages at 5% once the corpus exceeds guard_min_docs);
    it does NOT change the superlinear growth above. Pass an explicit
    float to force it, or None to disable.

    n_docs: optional row-count HINT — without it the 'auto' guard and
    the max_docs check run an eager df.count() at plan-build time;
    pass the known count to keep this a pure plan builder."""
    if max_docs is not None:
        if n_docs is None:
            n_docs = df.count()
        if n_docs > max_docs:
            raise RuntimeError(
                f"jaccard_pairs_inverted on {n_docs} docs (> max_docs="
                f"{max_docs}): the exact inverted-index join grows "
                f"superlinearly with corpus size. Block the corpus "
                f"(ngram_jaccard_pairs with block_col) or use "
                f"minhash_lsh_pairs; pass max_docs=None to override."
            )
    base = df.select(
        F.col(id_col).alias("_id"),
        shingles(text_col, k).alias("_sh"),
    ).withColumn("_n", F.size("_sh"))
    if persist_base:
        # the self-join evaluates its source on BOTH aliases — without
        # this, tokenization+shingling (the expensive expression) runs
        # 2-3×; measured 26 s → 5 s on 5k docs at sf0.1
        from pyspark import StorageLevel

        base = base.persist(StorageLevel.MEMORY_AND_DISK)
    ex = base.select("_id", "_n", F.explode("_sh").alias("_s"))

    if max_doc_ratio == "auto":
        # row count of the INPUT (no shingle recompute — df.count() is
        # a cheap narrow scan, usually a parquet metadata read)
        if n_docs is None:
            n_docs = df.count()
        max_doc_ratio = 0.05 if n_docs > guard_min_docs else None

    if max_doc_ratio is not None:
        # Stop-shingle skew guard: a shingle in >max_doc_ratio of docs
        # creates an O(df^2) pair blowup in the self-join. Drop such
        # shingles from CANDIDATE GENERATION only; the verify below
        # recomputes Jaccard on the FULL shingle sets so surviving
        # pairs keep exact scores. Trade-off (documented): pairs whose
        # overlap is exclusively stop-shingles are missed.
        if n_docs is None:
            n_docs = df.count()
        hot = (
            ex.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_doc_ratio * n_docs)
            .select("_s")
        )
        ex_gen = ex.join(F.broadcast(hot), "_s", "left_anti")
        a, b = ex_gen.alias("a"), ex_gen.alias("b")
        cand = (
            a.join(b, (F.col("a._s") == F.col("b._s")) & (F.col("a._id") < F.col("b._id")))
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        sh = base.select("_id", "_sh")
        cand = (
            cand.join(sh.withColumnRenamed("_id", "id_a").withColumnRenamed("_sh", "sh_a"), "id_a")
            .join(sh.withColumnRenamed("_id", "id_b").withColumnRenamed("_sh", "sh_b"), "id_b")
        )
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size(F.array_union("sh_a", "sh_b"))
        return cand.select(
            "id_a", "id_b", F.round(inter / union, 4).alias("jaccard")
        ).filter(F.col("jaccard") >= threshold)

    a, b = ex.alias("a"), ex.alias("b")
    pairs = (
        a.join(b, (F.col("a._s") == F.col("b._s")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("_inter"),
            F.first("a._n").alias("_na"),
            F.first("b._n").alias("_nb"),
        )
    )
    jac = F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter"))
    return (
        pairs.select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

def flag_contaminated(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    bench_text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Test-set decontamination: flag every corpus doc sharing ANY
    word k-gram with a benchmark/eval corpus (the n-gram-overlap
    contamination check used before pre-training runs; k=8..13 is the
    conventional window).

    Scale shape: the benchmark side is tiny relative to the corpus
    (eval sets are 10^3-10^6 docs), so its DISTINCT shingle set is
    BROADCAST and the corpus side runs a broadcast LEFT SEMI hash
    join on its exploded shingles — the 100 TB side never shuffles;
    one narrow scan + explode per doc. Returns (id_col, contaminated
    boolean) for every input doc.
    """
    doc_sh = docs.select(F.col(id_col), F.explode(shingles(text_col, k)).alias("_s"))
    bench_sh = (
        benchmark.select(F.explode(shingles(bench_text_col, k)).alias("_s"))
        .distinct()
    )
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "_s", "left_semi")
        .select(id_col).distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("contaminated"), F.lit(False)).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 16,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Semantic near-dups: random-hyperplane LSH prefilter + exact
    cosine verify. Hyperplanes are derived deterministically from the
    seed via hash-based pseudo-gaussians (sum of 4 scaled uniforms) —
    reproducible across runs with no stored model. `dim` is REQUIRED:
    plan construction must never run a driver-side action, so the
    caller supplies the vector width from its schema metadata, table
    property (icepack `extra_meta`), or config."""
    from swarm_spark.operators.similarity import cosine, rhp_signature

    if dim is None:
        raise ValueError(
            "embedding_dup_pairs: dim is required — pass the embedding "
            "width from schema metadata / a table property; probing a row "
            "at plan time is a driver-side action and was removed"
        )
    base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    sig = rhp_signature(F.col("_v"), dim, n_planes, seed)
    banded = base.withColumn("_bucket", sig)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a._bucket") == F.col("b._bucket")) & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            cosine(F.col("a._v"), F.col("b._v")).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def semantic_dedup_keep(
    df: DataFrame,
    k: int = 8,
    iterations: int = 2,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 128,
    max_cluster: int = 100_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the
    embedding space, then drop every vector whose cosine similarity to
    a LOWER-ID vector in the SAME cluster reaches `threshold` —
    semantic near-dups that no lexical dedup catches, at a cost that
    never goes all-pairs: clustering bounds the candidate self-join to
    within-cluster pairs, the published trick for corpus scale (pick
    k so n/k keeps clusters comfortably under max_cluster).

    Deterministic and cross-engine exact end to end: clustering is the
    integer-quantized kmeans (clustering.py — bit-identical across
    engines/partitionings), and similarity is the signed-squared-cosine
    integer score kernels.score_q (sign·(1e6·<qa,qb>²) div
    (|qa|²|qb|²) on round(v·scale) vectors), so the keep set is
    hash-verifiable against a SQL oracle. Keep rule: lowest id in each
    pairwise-similar relation survives (same keep-first convention as
    minhash_dedup_keep).

    Guard rail: if any cluster exceeds max_cluster the within-cluster
    join would blow up quadratically — raise with the measured size
    instead of silently running a superlinear plan (the simhash
    hot-bucket guard, applied to clusters).

    Returns (id_col, cluster) for survivors."""
    from swarm_spark.operators.clustering import (
        _quantized, cluster_expr, fit_centroids)
    from swarm_spark.operators.kernels import quantize, score_q
    from swarm_spark.operators.similarity import dot_q, quantize_vec
    from swarm_spark.operators.util import spread

    if not 0.0 <= threshold <= 1.0:
        raise ValueError("threshold must be in [0, 1]")
    threshold_q = int(1_000_000 * threshold * threshold)
    # Centroids are fit once (driver-held, k·d ints); the assignment is
    # then an inline argmin EXPRESSION over the quantized vector — the
    # pair join's two sides and the final anti-join each recompute the
    # narrow projection instead of persisting an assignment table
    # (recompute beats cache residency for a projection this cheap, and
    # nothing is left pinned in executor storage after the query — the
    # r5-advice cache leak). Assignment values are bit-identical to
    # kmeans(): same fit, same argmin/tiebreak expression.
    base = spread(df.select(F.col(id_col), F.col(vec_col)))
    centroids = fit_centroids(
        _quantized(base, vec_col, id_col), k, iterations, id_col=id_col)
    qv = quantize_vec(F.col(vec_col), scale)
    vecs = base.select(
        F.col(id_col).alias("_id"),
        qv.alias("_q"),
        dot_q(qv, qv).alias("_n2"),
        cluster_expr(quantize(F.col(vec_col)), centroids).alias("cluster"),
    )
    sizes = vecs.groupBy("cluster").count().agg(
        F.max("count").alias("mx")).first()
    if sizes["mx"] is not None and sizes["mx"] > max_cluster:
        raise ValueError(
            f"semantic_dedup_keep: largest cluster has {sizes['mx']} vectors "
            f"(> max_cluster={max_cluster}); increase k — the within-cluster "
            f"join is quadratic in cluster size"
        )
    a, b = vecs.alias("a"), vecs.alias("b")
    dropped = (
        a.join(b, (F.col("a.cluster") == F.col("b.cluster"))
               & (F.col("a._id") < F.col("b._id")))
        .select(
            F.col("b._id").alias("_id"),
            dot_q(F.col("a._q"), F.col("b._q")).alias("_d"),
            (F.col("a._n2") * F.col("b._n2")).alias("_nn"),
        )
        .select("_id", score_q(F.col("_d"), F.col("_nn")).alias("_sq"))
        .filter(F.col("_sq") >= threshold_q)
        .select("_id")
        .distinct()
    )
    return (
        vecs.select("_id", "cluster")
        .join(dropped, "_id", "left_anti")
        .select(F.col("_id").alias(id_col), "cluster")
    )
