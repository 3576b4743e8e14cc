"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup. Designed for the 10^12-document scale path:
every stage is a hash-partitioned groupBy/join on bounded keys (band
buckets, hash prefixes), never an all-pairs product.
"""

import logging

import numpy as np
import pandas as pd

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Window, functions as F

from .textops import word_ngrams

_log = logging.getLogger(__name__)


# ----------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative per md5(text). One shuffle
    (hash aggregate with map-side partial min)."""
    h = F.md5(F.col(text_col))
    w = Window.partitionBy("content_md5").orderBy(F.col(id_col).asc())
    return (df.withColumn("content_md5", h)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn"))


def exact_dup_groups(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(content_md5, n_dups, keep_id) per duplicate group — the audit view."""
    return (df.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
            .agg(F.count("*").alias("n_dups"),
                 F.min(id_col).alias("keep_id"))
            )


# --------------------------------------------------------------- minhash

def md5_hash64(*cols):
    """DuckDB-expressible 64-bit hash: first 15 md5 hex chars (60 bits)
    of the '|'-joined string casts. Spark's xxhash64 has no DuckDB twin,
    so this variant lets the driver oracle the MinHash/SimHash *logic*
    (banding, pigeonhole blocks, verify) end-to-end — DuckDB computes the
    identical value as CAST(('0x'||substr(md5(x),1,15)) AS BIGINT).
    xxhash64 stays the production default (faster: one JVM codegen call
    vs md5+conv)."""
    s = F.concat_ws("|", *[c.cast("string") for c in cols])
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


# SQL-expr twin of md5_hash64 for simhash's token-hash template
MD5_HASH64_SQL = ("cast(conv(substring(md5({x}), 1, 15), 16, 10) "
                  "as bigint)")


_AFFINE_P = 2147483647  # 2^31 - 1 (prime), universal-hash modulus


def affine_coeffs(seed: int):
    """Deterministic per-seed (a, c) for the affine family
    h_s(b) = (a_s*b + c_s) mod P over 30-bit b. Also inlined into the
    DuckDB oracle SQL — keep in sync with __spark_entry__."""
    a = (2654435761 * (seed + 1)) % _AFFINE_P or 1
    c = (40503 * (seed + 1) + 12345) % _AFFINE_P
    return a, c


class Md5AffineFamily:
    """DuckDB-expressible MinHash hash family: ONE md5 per shingle
    projected to 30 bits, then per-seed affine universal-hash
    transforms mod 2^31-1 (products < 2^61, no overflow on either
    engine). 16x cheaper than per-seed md5 and exactly replicable in
    SQL. Oracle-only: the 30-bit projection is fine below ~10^7
    distinct shingles but loses entropy at web-corpus scale, where the
    xxhash64 default's full-width per-seed hashing is the right
    quality/cost point (one codegen'd JVM call per seed)."""

    def project(self, col):
        return md5_hash64(col).bitwiseAND(F.lit((1 << 30) - 1))

    def seeded(self, proj_col, seed: int):
        a, c = affine_coeffs(seed)
        return F.pmod(F.lit(a) * proj_col + F.lit(c), F.lit(_AFFINE_P))

    def combine(self, *cols):
        return md5_hash64(*cols)


class XxHashFamily:
    """Production default: per-seed xxhash64 of (seed, shingle) — full
    64-bit entropy per permutation, whole-stage codegen."""

    def project(self, col):
        return col

    def seeded(self, proj_col, seed: int):
        return F.xxhash64(F.lit(seed), proj_col)

    def combine(self, *cols):
        return F.xxhash64(*cols)


def _as_family(hash_fn):
    """hash_fn: None -> xxhash64 family; a family object (has .seeded)
    -> itself; a legacy (*cols) callable (e.g. md5_hash64) -> wrapped as
    per-(seed, shingle) family."""
    if hash_fn is None:
        return XxHashFamily()
    if hasattr(hash_fn, "seeded"):
        return hash_fn

    class _Legacy:
        def project(self, col):
            return col

        def seeded(self, proj_col, seed):
            return hash_fn(F.lit(seed), proj_col)

        def combine(self, *cols):
            return hash_fn(*cols)

    return _Legacy()


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n_hashes: int = 16,
                       shingle_n: int = 3, hash_fn=None) -> DataFrame:
    """MinHash signature per doc: shingle -> per-seed xxhash64 -> min,
    as explode + n_hashes min-aggregates in ONE whole-stage-codegen pass.

    A transform+array_min HOF formulation (no shuffle) was replaced with
    numbers: Catalyst higher-order-function lambdas evaluate INTERPRETED,
    so 16 seeds x ~100 grams was 16 interpreted scans per document — the
    dominant cost of the whole near-dup pipeline. Here the grams explode
    (narrow), the 16 xxhash64+min aggregates run in generated code, and
    hash partial aggregation collapses each doc to one 16-long row
    map-side, so the shuffle carries ~docs x 16 longs regardless of text
    size. Documents with fewer than shingle_n words have no grams and no
    signature row (they cannot near-dup by shingles; exact_dedup owns
    them) — the old null-signature rows only ever produced candidate
    pairs that the Jaccard verify rejected."""
    fam = _as_family(hash_fn)
    # NOTE(r6): spreading a single-split corpus here (spread_small with
    # a small target) was tried and reverted with numbers — the added
    # exchange + extra codegen stage cost more on a one-shot query than
    # the single-task aggregate it parallelized (cold dedup_minhash
    # ~1-2 s WORSE with the spread at sf0.1); plan-compile time, not
    # row throughput, dominates at this scale.
    # project once per gram BEFORE the aggregate (guarantees one base
    # hash per shingle regardless of codegen CSE), then n_hashes cheap
    # seeded min-aggregates
    grams = df.select(
        id_col,
        F.explode(word_ngrams(F.col(text_col), shingle_n)).alias("_g")) \
        .select(id_col, fam.project(F.col("_g")).alias("_b"))
    aggs = [F.min(fam.seeded(F.col("_b"), s)).alias(f"_m{s}")
            for s in range(n_hashes)]
    return (grams.groupBy(id_col).agg(*aggs)
            .select(id_col, F.array(*[F.col(f"_m{s}")
                                      for s in range(n_hashes)])
                    .alias("minhash")))


def drop_hot_buckets(df: DataFrame, keys, max_bucket: int) -> DataFrame:
    """Anti-join away over-cap bucket groups before a bucket self-join.

    The hot-bucket guard for UNBOUNDED key spaces (band hashes, simhash
    blocks — cap_buckets' broadcast-the-OK-set trick only works when the
    bucket universe is small like n_tables*2^n_bits): there are at most
    total_rows/max_bucket hot groups, so the hot set always broadcasts.
    A bucket of size m contributes m(m-1)/2 candidate pairs; an
    exact-duplicate cluster of 1M boilerplate pages shares EVERY band
    hash, i.e. 10^12 pairs from one bucket without this cap. Members of a
    dropped bucket still pair through their other bands/blocks (and exact
    duplicates belong to exact_dedup, which is why near-dup pipelines run
    it first — see minhash_dedup_pairs(exact_first=True))."""
    keys = list(keys)
    hot = (df.groupBy(*keys)
           .agg(F.count("*").alias("_bn"))
           .filter(F.col("_bn") > max_bucket)
           .select(*keys))
    return df.join(F.broadcast(hot), on=keys, how="left_anti")


def minhash_candidates(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n_hashes: int = 16,
                       bands: int = 4, shingle_n: int = 3,
                       max_bucket: int = 10_000, hash_fn=None) -> DataFrame:
    """LSH banding: split the signature into `bands` rows, bucket-join on
    (band_idx, band_hash), emit candidate pairs (a < b). The join is an
    equi self-join on the band bucket — Spark's native strength; bucket
    sizes bound the pair blow-up, and drop_hot_buckets caps the degenerate
    exact-duplicate-cluster buckets that would otherwise go quadratic."""
    rows_per_band = n_hashes // bands
    fam = _as_family(hash_fn)
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, shingle_n,
                              hash_fn)
    banded = (sigs.select(
        id_col,
        F.posexplode(F.array(*[
            fam.combine(*[F.element_at("minhash", b * rows_per_band + r + 1)
                          for r in range(rows_per_band)])
            for b in range(bands)])).alias("band_idx", "band_hash")))
    banded = drop_hot_buckets(banded, ["band_idx", "band_hash"], max_bucket)
    left = banded.select(F.col(id_col).alias("a"), "band_idx", "band_hash")
    right = banded.select(F.col(id_col).alias("b"), "band_idx", "band_hash")
    return (left.join(right, on=["band_idx", "band_hash"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b").distinct())


def jaccard_verify(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", shingle_n: int = 3,
                   threshold: float = 0.7) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs: join texts in, compute
    |A∩B|/|A∪B| with array ops."""
    docs = df.select(F.col(id_col).alias("_jid"),
                     word_ngrams(F.col(text_col), shingle_n).alias("_grams"))
    joined = (pairs
              .join(docs.withColumnRenamed("_jid", "a")
                        .withColumnRenamed("_grams", "grams_a"), on="a")
              .join(docs.withColumnRenamed("_jid", "b")
                        .withColumnRenamed("_grams", "grams_b"), on="b"))
    ga = F.array_distinct("grams_a")
    gb = F.array_distinct("grams_b")
    inter = F.size(F.array_intersect(ga, gb))
    union = F.size(F.array_union(ga, gb))
    jac = inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")
    return (joined.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard"))


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n_hashes: int = 16,
                        bands: int = 4, shingle_n: int = 3,
                        threshold: float = 0.7,
                        max_bucket: int = 10_000,
                        exact_first: bool = False, hash_fn=None) -> DataFrame:
    """Full MinHash→LSH→verify near-dup pipeline.

    exact_first=True is the production ordering for corpora with large
    exact-duplicate clusters: run exact_dedup and band-join only the
    representatives, so a 1M-copy boilerplate page contributes ONE row to
    every band bucket instead of 10^12 in-bucket pairs (pairs within an
    exact cluster are already known duplicates — they don't need MinHash).
    Output is then pairs over representatives only."""
    if exact_first:
        df = exact_dedup(df, text_col, id_col).drop("content_md5")
    cands = minhash_candidates(df, text_col, id_col, n_hashes, bands,
                               shingle_n, max_bucket, hash_fn)
    return jaccard_verify(df, cands, text_col, id_col, shingle_n, threshold)


# ---------------------------------------------------------------- simhash

def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       token_hash_sql: str = "xxhash64(t)") -> DataFrame:
    """64-bit SimHash per document: tokens are whitespace-split, hashed
    JVM-side, bit-voted, and folded to the signature long. Empty/blank
    docs get signature 0, matching a majority vote over zero tokens.

    Shape: explode + 64 codegen sum-aggregates + count, mirroring
    minhash_signatures. An all-HOF formulation (aggregate/zip_with over
    the token array) was replaced with numbers: Catalyst higher-order-
    function lambdas evaluate INTERPRETED, so the per-token hash + 64
    bit-votes ran at ~2x the codegen cost (and 2.4x with the md5 oracle
    hash). Here the token hash and every vote run in generated code with
    map-side partial aggregation — the shuffle carries ~docs x 65 longs
    regardless of text size. explode_outer keeps zero-token docs (null
    token row -> no votes, count 0 -> signature 0) without a re-join.

    NULL-text docs are excluded entirely (no signature row), preserving
    the pre-restructure semantics where a null signature never matched
    in the blocking join — only EMPTY/blank text maps to signature 0."""
    df = df.filter(F.col(text_col).isNotNull())
    toks = df.select(
        id_col,
        F.explode_outer(F.expr(
            f"filter(split(trim({text_col}), '\\\\s+'), t -> t != '')"))
        .alias("t"))
    # guard the hash behind isNotNull: xxhash64(NULL) is a seed value,
    # not NULL, and the null row must contribute zero votes
    hashed = toks.select(
        id_col,
        F.when(F.col("t").isNotNull(),
               F.expr(token_hash_sql)).alias("_h"))
    aggs = [F.sum(F.shiftright("_h", b).bitwiseAND(F.lit(1)))
            .alias(f"_v{b}") for b in range(64)]
    aggs.append(F.count("_h").alias("_n"))
    agg = hashed.groupBy(id_col).agg(*aggs)
    sig = " + ".join(
        f"IF(coalesce(_v{b}, 0L) * 2 > _n, shiftleft(1L, {b}), 0L)"
        for b in range(64))
    return agg.select(id_col, F.expr(sig).alias("simhash"))


def simhash_near_dups(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", max_hamming: int = 3,
                      max_bucket: int = 10_000,
                      exact_first: bool = False,
                      token_hash_sql: str = "xxhash64(t)") -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= k, using the pigeonhole
    block trick: split 64 bits into (k+1) blocks; any pair within distance k
    agrees exactly on >= 1 block -> equi-join per block, then verify.

    Identical signatures collide on ALL k+1 blocks, so an exact-duplicate
    cluster makes every block bucket quadratic: drop_hot_buckets caps
    those, and exact_first=True collapses exact clusters to one
    representative before blocking (the production pipeline ordering)."""
    if exact_first:
        df = exact_dedup(df, text_col, id_col).drop("content_md5")
    sh = simhash_signatures(df, text_col, id_col, token_hash_sql)
    blocks = max_hamming + 1
    width = 64 // blocks

    def block(b):
        shifted = F.shiftrightunsigned(F.col("simhash"), b * width)
        if width >= 64:
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    exploded = sh.select(
        id_col, "simhash",
        F.posexplode(F.array(*[block(b) for b in range(blocks)]))
        .alias("block_idx", "block_val"))
    exploded = drop_hot_buckets(exploded, ["block_idx", "block_val"],
                                max_bucket)
    left = exploded.select(F.col(id_col).alias("a"),
                           F.col("simhash").alias("sh_a"),
                           "block_idx", "block_val")
    right = exploded.select(F.col(id_col).alias("b"),
                            F.col("simhash").alias("sh_b"),
                            "block_idx", "block_val")
    pairs = (left.join(right, on=["block_idx", "block_val"])
             .filter(F.col("a") < F.col("b"))
             .select("a", "b", "sh_a", "sh_b").distinct())
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (pairs.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .select("a", "b", "hamming"))


# ------------------------------------------------------------- embeddings

def rand_hyperplanes(dim: int, n: int, seed: int = 42):
    """Deterministic i.i.d. Gaussian hyperplanes (seeded generator — every
    executor/run derives the identical planes; replaces the correlated
    sin((j+1)*odd) weights that made per-plane buckets non-independent)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n, dim)).tolist()


def spread_small(df: DataFrame, target_bytes: int = 4 << 20) -> DataFrame:
    """Repartition inputs that arrive with fewer partitions than cores
    (the single-file small-table case: every downstream per-row
    expression would otherwise run in ONE task). No-op for corpus-scale
    inputs, which arrive well-partitioned.

    Width is sized from plan statistics (target_bytes per partition,
    capped at defaultParallelism): unconditionally fanning a tiny table
    out to all cores was measured as the r2->r3 ann_lsh regression — a
    1 MB 2000-row corpus ran every downstream stage as 32 near-empty
    tasks, adding ~1s of pure scheduling per job. The Arrow-batched
    kernels downstream (matmul keys, cosine) need millions of rows per
    partition before the extra width pays, so they keep the 4 MB
    default; hash-heavy text stages (per-gram md5, 64 bit-votes) do
    ~1 s of work per source MB and pass a smaller target_bytes."""
    sc = df.sparkSession.sparkContext
    cur = df.rdd.getNumPartitions()
    if cur >= sc.defaultParallelism:
        return df
    target = sc.defaultParallelism
    try:
        size = int(str(df._jdf.queryExecution().optimizedPlan().stats()
                       .sizeInBytes()))
        if 0 < size < (1 << 50):
            target = min(sc.defaultParallelism,
                         max(cur, (size + target_bytes - 1) // target_bytes))
    except Py4JError as e:
        _log.warning("plan size unavailable: spreading to %d partitions "
                     "(%s)", target, getattr(e, "java_exception", e))
    if target > cur:
        return df.repartition(target)
    return df


def lsh_table_keys(vec_col, planes, n_tables: int, n_bits: int):
    """array<int> of per-table bucket keys: one Arrow-batched numpy
    matmul against the (n_tables*n_bits, dim) plane matrix, sign bits
    folded MSB-first per contiguous table block. A Catalyst-HOF
    formulation was tried first and rejected with numbers: higher-order-
    function lambdas evaluate INTERPRETED (never whole-stage codegen),
    measured ~4.5 us per element op — 11 s for 400 rows x 96 planes —
    where the numpy batch is sub-millisecond. Bucket ids are an
    arbitrary fixed bijection of bit patterns; only determinism and
    query/corpus symmetry matter."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    P = np.asarray(planes, dtype=np.float64)
    weights = (2 ** np.arange(n_bits - 1, -1, -1)).astype(np.int64)

    @F.pandas_udf(ArrayType(IntegerType()))
    def keys(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        M = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (M @ P.T >= 0).astype(np.int64)
        k = bits.reshape(len(M), -1, len(weights)) @ weights
        return pd.Series([row.astype("int32").tolist() for row in k])

    return keys(vec_col)


def infer_dim(df: DataFrame, vec_col: str) -> int:
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row["d"] is None:
        raise ValueError(f"cannot infer embedding dim from {vec_col}")
    return int(row["d"])


def lsh_tables(df: DataFrame, vec_col: str, n_tables: int, n_bits: int,
               seed: int = 42, dim: int | None = None) -> DataFrame:
    """Banded AND-OR sign-LSH: n_tables independent tables of n_bits
    AND-ed sign bits each. Emits one (table, bucket) row per input row per
    table. Collision prob for angle θ: 1-(1-(1-θ/π)^n_bits)^n_tables —
    the AND (n_bits) kills the O(n²/2^bits) in-bucket quadratic, the OR
    (n_tables) buys the recall back."""
    dim = dim or infer_dim(df, vec_col)
    keys = lsh_table_keys(F.col(vec_col),
                          rand_hyperplanes(dim, n_tables * n_bits, seed),
                          n_tables, n_bits)
    return df.select(
        "*", F.posexplode(keys).alias("table", "bucket"))


def cap_buckets(banded: DataFrame, max_bucket: int) -> DataFrame:
    """Drop over-cap (table, bucket) groups — the degenerate hot-bucket
    guard. The count table is at most n_tables * 2^n_bits rows, so it
    broadcasts at any corpus size; without the cap one pathological
    bucket is an O(max_bucket²) -> O(n²) pair blow-up."""
    ok = (banded.groupBy("table", "bucket")
          .agg(F.count("*").alias("_bn"))
          .filter(F.col("_bn") <= max_bucket)
          .drop("_bn"))
    return banded.join(F.broadcast(ok), on=["table", "bucket"])


def embedding_near_dups(df: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id",
                        threshold: float = 0.95,
                        n_tables: int = 8, n_bits: int = 8,
                        seed: int = 42, max_bucket: int = 100_000,
                        dim: int | None = None) -> DataFrame:
    """Embedding-cosine near-dup via banded AND-OR sign-LSH: bucket
    equi-join per table -> pair dedup -> exact cosine verify (JVM HOFs).

    Defaults target real near-dup thresholds (~0.95 cosine = 18°:
    per-bit agree p=0.90, recall 1-(1-p^8)^8 ≈ 0.99). For looser
    thresholds raise n_tables / lower n_bits — the recall-floor test
    pins both regimes. Expected candidate pairs ≈ n²·p_rand^8·n_tables
    with p_rand≈0.5 for unrelated vectors → n²/32 per table at 8 bits is
    the worst case, bounded in practice by max_bucket."""
    banded = cap_buckets(
        lsh_tables(spread_small(df.select(id_col, vec_col)), vec_col,
                   n_tables, n_bits, seed, dim),
        max_bucket)
    left = banded.select(F.col(id_col).alias("a"),
                         F.col(vec_col).alias("va"), "table", "bucket")
    right = banded.select(F.col(id_col).alias("b"),
                          F.col(vec_col).alias("vb"), "table", "bucket")
    cand = (left.join(right, on=["table", "bucket"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b", "va", "vb")
            .dropDuplicates(["a", "b"]))
    return (cand.withColumn("cosine", cosine_pairs(F.col("va"), F.col("vb")))
            .filter(F.col("cosine") >= threshold)
            .select("a", "b", "cosine"))


def embedding_near_dups_exact(df: DataFrame, vec_col: str = "embedding",
                              id_col: str = "vec_id",
                              threshold: float = 0.95,
                              max_rows: int = 100_000) -> DataFrame:
    """Exact all-pairs cosine near-dup: the brute-force baseline whose
    output the LSH path (embedding_near_dups) approximates. O(n^2) theta
    self-join (a < b) — strictly the small-N / verify kernel: it REFUSES
    inputs over max_rows (10^5 rows is already 5·10^9 cosine evals) so a
    full corpus can never silently take the quadratic path; use
    embedding_near_dups there."""
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"embedding_near_dups_exact is the O(n²) verify kernel: got "
            f"{n} rows > max_rows={max_rows}; use embedding_near_dups "
            f"(banded LSH) for corpus-scale dedup")
    df = spread_small(df)
    left = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    right = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    pairs = left.join(right, F.col("a") < F.col("b"))
    return (pairs.withColumn("cosine", cosine_pairs(F.col("va"), F.col("vb")))
            .filter(F.col("cosine") >= threshold)
            .select("a", "b", "cosine"))


def cosine_sim(va, vb):
    """Exact cosine with JVM array HOFs (no UDF). NOT the hot-path kernel:
    Catalyst higher-order-function lambdas evaluate interpreted (~4.5 µs
    per element op, measured in the lsh_table_keys rewrite), i.e. 3
    interpreted passes over dim elements per pair. Kept for plans that
    must stay Python-free; verify hot paths use cosine_pairs."""
    va = va.cast("array<double>")
    vb = vb.cast("array<double>")
    dot = F.aggregate(F.zip_with(va, vb, lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    na = F.sqrt(F.aggregate(F.transform(va, lambda x: x * x),
                            F.lit(0.0), lambda a, x: a + x))
    nb = F.sqrt(F.aggregate(F.transform(vb, lambda x: x * x),
                            F.lit(0.0), lambda a, x: a + x))
    return dot / (na * nb)


def cosine_pairs(va, vb):
    """Arrow-batched exact cosine for the candidate-verify hot path: one
    numpy (A*B).sum(axis=1) per batch (same pattern as lsh_table_keys —
    the batched matmul that replaced the interpreted-HOF LSH keys). At
    corpus scale the verify dominates the LSH stages, so this is the
    kernel that must be vectorized."""
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.asarray([np.asarray(v, dtype=np.float64) for v in a])
        B = np.asarray([np.asarray(v, dtype=np.float64) for v in b])
        dots = np.einsum("ij,ij->i", A, B)
        na = np.sqrt(np.einsum("ij,ij->i", A, A))
        nb = np.sqrt(np.einsum("ij,ij->i", B, B))
        return pd.Series(dots / (na * nb))

    return cos(va, vb)
