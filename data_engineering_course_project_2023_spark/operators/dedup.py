"""Deduplication operators for training-data pipelines (extension ops,
SURVEY §2.8 X1/X2): exact, n-gram-Jaccard, MinHash+LSH, SimHash.

Design for 100 TB:

- Exact dedup hashes map-side and shuffles only (hash → min id) pairs.
- The similarity join never goes all-pairs: candidates come from an
  equi-join on shingles (inverted-index style) or on LSH band keys, so
  the shuffle is keyed by shingle/band — the standard distributed
  set-similarity-join layout. Hot shingles (stopword runs) are the skew
  risk: a document-frequency cap drops shingles appearing in more than
  ``max_df`` docs, the same prefix-filtering idea MinHash banding makes
  unnecessary for the LSH path.
- All hashes are md5-derived (not Spark's murmur3 ``hash()``) so results
  are engine-independent and every operator here is oracle-checkable in
  DuckDB — unusual for LSH pipelines and deliberate: correctness first,
  then speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..functions.expr import spread
from ..session import iterative_shuffle_parts

# MinHash: k hash functions derived by slicing md5 digests — md5(seed|s)
# yields four independent 32-bit slices, so k=8 costs only two md5 calls
# per shingle. 32 bits is ample for min-wise hashing (collision prob
# ~n/2^32 per set).
N_MINHASH = 8
SLICES_PER_MD5 = 4
BAND_SIZE = 2  # 4 bands of 2 → catches jaccard ≳ 0.5 with high prob

# Stage paths this PROCESS has staged or reused — GC protection, not a
# cache: the stale-sibling GC must never delete a directory another
# registry query in this same session staged under a different params
# fingerprint and may still re-read (round 11 regression: the full-
# registry plan sweep interleaves two param sets on one stage_dir; the
# old code GC'd the first set's live stage on the second's fingerprint
# miss, then a verified-path memo served the deleted path →
# PATH_NOT_FOUND). Unbounded by design: it holds one short string per
# distinct (stage_dir, inputs, params) seen in a session — dozens, not
# millions — and correctness depends on it never evicting.
_STAGE_LIVE: set[str] = set()

# Per-run stage cleanup (round 12): each run removes its own staged
# directories at interpreter exit. Registered lazily on first stage so
# importing this module never touches atexit.
_CLEANUP_REGISTERED = False


def _cleanup_live_stages() -> None:
    import shutil

    for p in list(_STAGE_LIVE):
        shutil.rmtree(p, ignore_errors=True)

# Bump when stage_parquet's staged-frame derivation changes shape or
# content for identical inputs: the constant is folded into the
# fingerprint so stages written by older code are never served to newer
# code cross-process (ADVICE r10). Callers version their OWN derivation
# through `params`; this guards the staging layer itself.
_STAGE_FORMAT_VERSION = 1

# Bounded memo size: these are per-session conveniences, not a real
# cache layer; a runaway sweep over many inputs must not pin unbounded
# driver memory (each Bloom bitmap is m/64 longs).
_CACHE_MAX_ENTRIES = 32


def _files_fingerprint(df: DataFrame) -> tuple:
    """Identity of a frame's file inputs: (path, mtime_ns, size) per
    file. inputFiles alone cannot see an in-place overwrite (same path,
    new bytes); stat'ing mtime+size catches that. Non-local paths fall
    back to the bare URI (cluster object stores are immutable-by-
    convention; overwrite-in-place is a local-test phenomenon)."""
    import os
    from urllib.parse import urlparse

    out = []
    for uri in sorted(df.inputFiles()):
        p = urlparse(uri)
        if p.scheme in ("", "file") and p.path:
            try:
                st = os.stat(p.path)
                out.append((p.path, st.st_mtime_ns, st.st_size))
                continue
            except OSError:
                pass
        out.append((uri, 0, 0))
    return tuple(out)


def _lru_put(cache: dict, key, value) -> None:
    """Insert with a hard size bound (evict oldest insertion — plain
    dicts preserve insertion order, which is LRU-enough for a memo that
    is almost always hit on the most recent key)."""
    if key in cache:
        del cache[key]
    elif len(cache) >= _CACHE_MAX_ENTRIES:
        del cache[next(iter(cache))]
    cache[key] = value


def _session_tag(spark) -> str:
    """Per-RUN stage namespace: the Spark applicationId, unique per
    SparkSession/process. Module-level so tests can monkeypatch a
    \"different run\" without forging a second JVM."""
    return spark.sparkContext.applicationId


def stage_parquet(
    frame: DataFrame, stage_dir: str, files: tuple, params: tuple
) -> DataFrame:
    """Stage ``frame`` to parquet once PER RUN and return a reader over
    the stage — the shared spelling of the shingle/tf staging memo.

    The stage path is ``stage_dir`` suffixed with the Spark
    ``applicationId`` AND a fingerprint hash of (input file identities,
    params), so (a) two sessions staging DIFFERENT inputs under the
    same logical name write different directories — round 10 measured
    the failure this prevents: a census process and a concurrent
    diagnostic run at another SF shared the bare fixed path, and the
    census's ngram rows silently scored 10× data (2478 pairs where the
    oracle held 81) — and (b) a stage is NEVER reused across runs
    (VERDICT r11 #1): every bench/census/driver invocation pays its own
    staging cost exactly once, inside its own timed window. Cross-
    process ``_SUCCESS`` reuse was deliberately removed — inheriting a
    prior run's stage excluded the tokenize+stage cost from every
    stage-consumer's reported time after the first-ever touch, which is
    persisted-intermediate gaming even though the content was provably
    identical. WITHIN one run the memo is the right 100 TB topology:
    the shingle/tf frame is tokenized once and every consumer (several
    registry queries share one stage) scans the cheap columnar stage.

    Concurrent writers of the SAME path (threads of one session) are
    safe (ADVICE r10): the frame is written to a unique temp sibling
    and atomically ``os.rename``d into the fingerprint path — first
    rename wins, the loser discards its temp and reads the winner's
    stage (identical content by construction). No mid-``overwrite``
    window exists because nothing ever deletes a completed stage in
    place.

    Disk hygiene under per-run isolation: a run removes its OWN staged
    directories at interpreter exit (``atexit`` over ``_STAGE_LIVE``),
    and a fingerprint miss additionally sweeps stale siblings of THIS
    run only (same run tag, not in ``_STAGE_LIVE`` — the regenerated-
    inputs-within-one-session case). Other runs' directories are never
    touched: with per-run path keys every concurrent session's stage
    looks "stale" to its peers, and sweeping them reintroduced exactly
    the cross-process PATH_NOT_FOUND race the round-11 live-set was
    built against (measured this round: a parity suite and a bench
    running side by side GC'd each other's live stages). A run killed
    before its atexit leaks its directories; they live under the
    system tempdir and are bounded by one run's stage volume. The
    live-set exclusion remains load-bearing within a run: one
    session's registry sweep interleaves different param sets on the
    same stage_dir and re-reads earlier fingerprints. Every call
    re-probes ``_SUCCESS`` instead of trusting an in-memory memo, so a
    stage deleted externally is restaged rather than served dead.

    In-memory inputs (``files`` empty) have no durable identity: they
    always restage into the bare path and never memoize."""
    import glob
    import hashlib
    import os
    import shutil
    import uuid

    spark = frame.sparkSession
    # Re-read with the written frame's schema, all fields nullable as
    # parquet stores them: inferring it would launch a one-task footer
    # job per stage read. Traced perfbench registry_mix pass, with the
    # schema-pinned table loads: ngram_jaccard 11 → 9 jobs, neardup_eval
    # (two stage reads) 18 → 15.
    schema = StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in frame.schema]
    )
    if not files:
        frame.write.mode("overwrite").parquet(stage_dir)
        return spark.read.schema(schema).parquet(stage_dir)
    tag = hashlib.md5(_session_tag(spark).encode()).hexdigest()[:8]
    key = (_STAGE_FORMAT_VERSION, files, params)
    suffix = hashlib.md5(repr(key).encode()).hexdigest()[:16]
    path = f"{stage_dir}-{tag}-{suffix}"
    global _CLEANUP_REGISTERED
    if not _CLEANUP_REGISTERED:
        import atexit

        atexit.register(_cleanup_live_stages)
        _CLEANUP_REGISTERED = True
    # Always re-probe _SUCCESS (a stat, not a listing — O(µs) against
    # ~100 ms of Spark planning per stage consumer): the stage may have
    # been removed externally since we last saw it, and serving a
    # memoized dead path fails the whole query at analysis time.
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        for stale in glob.glob(f"{stage_dir}-{tag}-*"):
            if (
                stale != path
                and stale not in _STAGE_LIVE
                and not stale.endswith(".tmp")
            ):
                shutil.rmtree(stale, ignore_errors=True)
        if os.path.exists(path):
            # Partial stage from a crashed writer (dir without
            # _SUCCESS) would make the rename below fail forever.
            shutil.rmtree(path, ignore_errors=True)
        tmp = f"{path}.{uuid.uuid4().hex[:12]}.tmp"
        frame.write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            # Lost the rename race — a complete identical stage
            # already sits at `path`; drop ours and read theirs.
            shutil.rmtree(tmp, ignore_errors=True)
    _STAGE_LIVE.add(path)
    return spark.read.schema(schema).parquet(path)


def _md5_int60(c: Column, seed: int | None = None) -> Column:
    """First 60 bits of md5 as non-negative int64 (same in DuckDB via
    CAST('0x' || substr(md5(..),1,15) AS BIGINT))."""
    inp = c if seed is None else F.concat(F.lit(f"{seed}|"), c)
    return F.conv(F.substring(F.md5(inp), 1, 15), 16, 10).cast("long")


def _minhash_slices(c: Column) -> list[Column]:
    """k 32-bit hash values per input string from ceil(k/4) md5 calls."""
    out: list[Column] = []
    for seed in range((N_MINHASH + SLICES_PER_MD5 - 1) // SLICES_PER_MD5):
        digest = F.md5(F.concat(F.lit(f"{seed}|"), c))
        for s in range(SLICES_PER_MD5):
            if len(out) < N_MINHASH:
                out.append(
                    F.conv(F.substring(digest, 1 + 8 * s, 8), 16, 10).cast("long")
                )
    return out


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """X1: exact duplicate groups — keep-first (min id) per content hash.
    Output: (keep_id, n_dups, fp_hex). Map-side hash, single shuffle."""
    fp = F.md5(F.col(text_col))
    return (
        df.select(F.col(id_col), fp.alias("fp_hex"))
        .groupBy("fp_hex")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Distinct word n-gram shingles, one row per (doc, shingle).

    Built with a transform over token indices — stays in codegen; the
    explode happens once, after distinct-ing within the array.

    The token array is MATERIALIZED into a column before the
    higher-order transform: codegen does not common-subexpression-
    eliminate across a LambdaFunction boundary, so an inline
    ``element_at(split(text), i+k)`` re-evaluates the whole split per
    element access — O(len²) per document. Measured at sf1z (50 k
    docs): inline split 42.5 s, materialized column 3.4 s for the
    identical 2,649,473-row shingle frame (round 10; this was the
    family's dominant hidden cost at every SF).
    """
    toked = spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("__w"),
    )
    tk = F.col("__w")
    # sequence(0, -1) would count DOWN in Spark; guard docs shorter than n
    idx = F.when(
        F.size(tk) >= n, F.sequence(F.lit(0), F.size(tk) - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(tk, i + k + 1) for k in range(n)]),
    )
    return toked.select(
        "doc_id",
        F.explode(F.array_distinct(grams)).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 1000,
    stage_dir: str | None = None,
) -> DataFrame:
    """X2a: exact n-gram Jaccard similarity join via inverted index.

    intersection from the shingle equi-join, union by inclusion-
    exclusion; jaccard = |A∩B| / (|A|+|B|-|A∩B|) — int/int division,
    engine-deterministic. ``max_df`` drops ubiquitous shingles (skew +
    noise control at scale, like CountVectorizer's maxDF).

    The shingle frame feeds sizes + BOTH self-join sides. With
    ``stage_dir`` set (the 100 TB path) it is written once to parquet
    and re-read, so every consumer scans the durable stage and no
    executor storage is pinned. Without it, the two self-join sides
    share one shuffle via ReusedExchange and tokenization reruns only
    for the small ``sizes`` aggregate — the r1 ``persist()`` here
    leaked cached partitions for the session lifetime (never
    unpersisted, re-cached per invocation) and would be a memory cliff
    at scale; staging is the explicit alternative, not a cache.
    """
    sh = shingles(df, text_col, id_col, n)
    if stage_dir is not None:
        # stage BEFORE the df-count pass: the explode/tokenize work runs
        # exactly once; df_counts, the anti-join probe, sizes and both
        # self-join sides all scan the cheap 2-column parquet stage.
        # The stage is a pure function of (input file fingerprints,
        # params) — see stage_parquet for the fingerprint-keyed path
        # and reuse semantics.
        sh = stage_parquet(
            sh, stage_dir, _files_fingerprint(df), (text_col, id_col, n)
        )
    if max_df is not None:
        df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        sh = (
            sh.join(F.broadcast(df_counts.filter(F.col("df") > max_df)),
                    "shingle", "left_anti")
        )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).cast("double")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = N_MINHASH,
    stage_dir: str | None = None,
) -> DataFrame:
    """X2b: k-permutation MinHash signature per document.

    One shuffle (groupBy doc) with k partial mins — each hash is
    min(md5(seed|shingle)) over the doc's shingle set.

    ``stage_dir`` (round 12, VERDICT r11 #6): the shingle frame is the
    SAME derivation the ngram-Jaccard family stages (identical
    fingerprint params), so passing the shared stage dir lets an eval
    query's pred side — and any other minhash consumer in the same run
    — scan the one staged tokenize instead of re-running the explode
    chain per pipeline. Content-neutral: the stage holds exactly
    ``shingles(df)``.
    """
    sh = shingles(df, text_col, id_col, n)
    if stage_dir is not None:
        sh = stage_parquet(
            sh, stage_dir, _files_fingerprint(df), (text_col, id_col, n)
        )
    slices = _minhash_slices(F.col("shingle"))
    aggs = [F.min(slices[i]).alias(f"mh_{i}") for i in range(k)]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = N_MINHASH,
    band_size: int = BAND_SIZE,
    stage_dir: str | None = None,
) -> DataFrame:
    """(doc_id, band, band_key) rows — the LSH banding of each doc's
    MinHash signature, emitted with ONE explode (a union of
    k/band_size selects would recompute the signature aggregation per
    band). Shared by the self-join pair builder and the incremental
    batch-vs-history novelty probe."""
    sig = minhash_signatures(df, text_col, id_col, n, k, stage_dir)
    band_structs = []
    for b in range(k // band_size):
        cols = [f"mh_{b * band_size + j}" for j in range(band_size)]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("_", *[F.col(c).cast("string") for c in cols]).alias(
                    "band_key"
                ),
            )
        )
    return (
        sig.select("doc_id", F.explode(F.array(*band_structs)).alias("bk"))
        .select(
            "doc_id",
            F.col("bk.band").alias("band"),
            F.col("bk.band_key").alias("band_key"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = N_MINHASH,
    band_size: int = BAND_SIZE,
    stage_dir: str | None = None,
) -> DataFrame:
    """X2b: candidate pairs via LSH banding over MinHash signatures.

    Signature split into k/band_size bands; docs agreeing on any full
    band become candidates. The band value is the join key → shuffle is
    keyed by (band_idx, band_hash); no all-pairs comparison anywhere.
    Output: distinct candidate (doc_a < doc_b) pairs.
    """
    allb = lsh_bands(df, text_col, id_col, n, k, band_size, stage_dir)
    a, b2 = allb.alias("a"), allb.alias("b")
    return (
        a.join(b2, ["band", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def simhash16(c: Column) -> Column:
    """X2c: 16-bit SimHash over whitespace tokens with md5-derived
    per-token 16-bit hashes. Bit j of the result is set when the sum of
    (±1 per token, sign = token's bit j) is positive.

    16 bits keeps the oracle SQL tractable while demonstrating the
    operator; widening to 64 bits is the same expression with a longer
    hex slice.
    """
    toks = F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != "")
    h = F.transform(
        toks, lambda x: F.conv(F.substring(F.md5(x), 1, 4), 16, 10).cast("int")
    )
    bit_terms = []
    for j in range(16):
        vote = F.aggregate(
            h,
            F.lit(0),
            lambda acc, x: acc
            + F.when(F.shiftright(x, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        bit_terms.append(F.when(vote > 0, F.lit(1 << j)).otherwise(F.lit(0)))
    out = bit_terms[0]
    for t in bit_terms[1:]:
        out = out + t
    return out.cast("int")


def simhash_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash-identical groups (hamming distance 0 buckets): the
    constant-time near-dup bucketing pass. Output one row per doc with
    its simhash and the bucket's size.

    Computed explode → hash once → 16 conditional sums in ONE groupBy
    (the array-fold spelling in :func:`simhash16` re-evaluates the md5
    transform per bit — 16× the hashing; this form hashes each token
    once and lets partial aggregation do the bit votes map-side).
    """
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != "")
    tok = spread(df).select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("w"))
    th = tok.select(
        "doc_id", F.conv(F.substring(F.md5("w"), 1, 4), 16, 10).cast("int").alias("h")
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v_{j}")
        for j in range(16)
    ]
    per_doc = th.groupBy("doc_id").agg(*votes)
    bits = [
        F.when(F.col(f"v_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(16)
    ]
    acc = bits[0]
    for b in bits[1:]:
        acc = acc + b
    sh = per_doc.select("doc_id", acc.cast("int").alias("simhash"))
    sizes = sh.groupBy("simhash").agg(F.count(F.lit(1)).alias("bucket_size"))
    return sh.join(sizes, "simhash").select("doc_id", "simhash", "bucket_size")


SIMHASH60_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH60_BITS // SIMHASH_BANDS  # 15
SIMHASH_MAX_HAMMING = SIMHASH_BANDS - 1  # pigeonhole-complete for ≤ 3


def simhash60_frame(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, simhash) with a 60-bit SimHash — wide enough that
    15-bit band values (32k distinct) block the corpus instead of
    pairing it (the 16-bit variant above is a hamming-0 bucketer; its
    4-bit bands would collide every doc with 1/16 of the corpus).
    Same one-groupBy shape: hash each token once, 60 conditional
    bit-vote sums aggregate map-side."""
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != "")
    tok = spread(df).select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("w"))
    th = tok.select("doc_id", _md5_int60(F.col("w")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"v_{j}")
        for j in range(SIMHASH60_BITS)
    ]
    per_doc = th.groupBy("doc_id").agg(*votes)
    acc = F.lit(0).cast("long")
    for j in range(SIMHASH60_BITS):
        acc = acc + F.when(
            F.col(f"v_{j}") > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return per_doc.select("doc_id", acc.alias("simhash"))


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = SIMHASH_MAX_HAMMING,
) -> DataFrame:
    """X2 at-scale variant: near-dup PAIRS at hamming distance ≤ 3 on a
    60-bit SimHash, via banded bit-block collision (Manku/Jain/Sarma,
    "Detecting Near-Duplicates for Web Crawling", WWW'07). Split the
    fingerprint into 4 disjoint 15-bit bands; if hamming(a,b) ≤ 3 the
    pigeonhole principle forces at least one band to match EXACTLY, so
    an equi-join on (band_idx, band_value) is a lossless candidate
    generator — never an all-pairs product. Verification is one
    map-side ``bit_count(a XOR b)`` per candidate.

    Scale shape: 4× map-side fan-out into the band index, one
    hash-partitioned self-join on a 17-bit composite key, distinct on
    the (a<b) pair, then a broadcast-free verify via join-back on the
    tiny (doc, fingerprint) frame. Band-value skew is bounded by the
    hash uniformity of SimHash itself; at 100 TB widen the fingerprint
    (64/128 bits via more md5 slices) and keep bands ≥ 15 bits so
    bucket occupancy stays sub-quadratic. The DuckDB oracle is the
    NAIVE all-pairs hamming join, so the parity gate checks the
    banding's completeness, not just its plumbing (same discipline as
    prefix_jaccard)."""
    assert max_hamming < SIMHASH_BANDS, "pigeonhole needs bands > max_hamming"
    # Materialize the fingerprints ONCE: both self-join sides (and the
    # verify) otherwise re-run the tokenize+hash+60-vote aggregation —
    # measured 7.4 s vs 4.1 s at sf0.1. The frame is one int64 per doc
    # (8 B/doc ≈ 8 GB per billion docs), exactly the bounded-state
    # shape localCheckpoint is for (same discipline as minhash_ml's
    # featurized frame).
    sh = simhash60_frame(df, text_col, id_col).localCheckpoint()
    band_mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright("simhash", b * SIMHASH_BAND_BITS)
                    .bitwiseAND(F.lit(band_mask))
                    .alias("bval"),
                )
                for b in range(SIMHASH_BANDS)
            ])
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.bval")
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(b, ["band", "bval"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.expr("sh_a ^ sh_b"))
    return (
        cands.select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


class ScaleGuard(RuntimeError):
    """Base of the typed refuse-to-run errors: an operator detected —
    by measurement, before doing the expensive work — that this input
    regime exceeds its documented scale contract, and names the scale
    path to use instead. Census runners record any ScaleGuard as an
    explicit ``skipped_scale_guard`` row instead of a silent budget
    death or an unhandled Py4JJavaError (VERDICT_r8 #4, r10 #2)."""


class LibraryScaleLimit(ScaleGuard):
    """A library-backed operator refused to run: its JVM internals are
    measured to exceed a hard Spark limit past a known input size (not
    a semantics failure — the native twin is the scale path)."""


class AlgorithmScaleLimit(ScaleGuard):
    """An exact operator refused to run: its own cheap pre-probe
    measured the algorithm's cost driver (e.g. candidate-slot volume)
    past the size where the exact spelling can finish, and a capped
    sibling is the declared scale path. Distinct from LibraryScaleLimit
    because nothing is broken JVM-side — the REGIME is out of the
    exact algorithm's contract (saturated vocab ⇒ df stops
    discriminating ⇒ Σ df² blows up)."""


# approxSimilarityJoin materializes its exploded hash-join probe side
# as a broadcast once AQE sees it as "small"; at 500k docs (sf10 fixed
# vocab) that broadcast is 11.2 GiB — past Spark's hard 8 GiB
# broadcast ceiling — after already needing a >1 GiB maxResultSize
# bump (BENCH_LOCAL_sf10.json failed-row). 150k docs (3x the measured-
# green sf1 run, 10.7 s) is the documented guard; the native
# minhash_lsh_pairs is the at-scale path (22.9 s at sf10).
MINHASH_ML_MAX_DOCS = 150_000


def minhash_ml_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hash_tables: int = 8,
) -> DataFrame:
    """X2 library path: Spark ML's MinHashLSH.approxSimilarityJoin over
    a binary shingle vector (HashingTF on 3-gram shingles).

    Comparison point for the hand-rolled md5 MinHash above: the ML
    variant's hash family is JVM-internal (seeded random), so it is NOT
    cross-engine oracle-checkable — the driver records a rows-only
    check. Kept because approxSimilarityJoin is the battle-tested
    at-scale implementation (it does the same band-join internally).
    """
    try:
        from pyspark.ml.feature import HashingTF, MinHashLSH
    except ImportError:  # pragma: no cover - pyspark.ml always ships
        raise NotImplementedError("pyspark.ml unavailable")

    n_docs = df.count()
    if n_docs > MINHASH_ML_MAX_DOCS:
        raise LibraryScaleLimit(
            f"minhash_ml: {n_docs} docs > {MINHASH_ML_MAX_DOCS} guard — "
            "approxSimilarityJoin's internal broadcast exceeds Spark's "
            "8 GiB ceiling past this size (measured 11.2 GiB at 500k "
            "docs); use the native minhash_lsh_pairs at scale"
        )
    sh = (
        shingles(df, text_col, id_col)
        .groupBy("doc_id")
        .agg(F.collect_list("shingle").alias("sh"))
    )
    tf = HashingTF(
        inputCol="sh", outputCol="features", numFeatures=1 << 18, binary=True
    )
    # Materialize the featurized frame ONCE: it feeds three scans (the
    # LSH fit plus BOTH approxSimilarityJoin sides), and without
    # truncation each rescan re-runs tokenize+explode+collect_list —
    # the r2 bench showed the retokenization as a +20% drift. Bounded:
    # one sparse vector per doc.
    feats = tf.transform(sh).localCheckpoint()
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42
    )
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(
        feats, feats, threshold=1.0 - threshold, distCol="jaccard_dist"
    )
    return (
        pairs.select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            (1.0 - F.col("jaccard_dist")).alias("jaccard_est"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 40
) -> DataFrame:
    """Min-label-propagation connected components over generic
    ``nodes('node')`` / ``edges('src','dst')`` frames — the DataFrame
    spelling of Pregel CC (edges symmetrized internally; pass each
    undirected edge once).

    Same iterative discipline as the co-order component query
    (``plans/analytics.py:copair_components``): localCheckpoint each
    round so the logical plan doesn't double per iteration, and a
    monotone label-sum probe for convergence (min-propagation only ever
    decreases labels, so one cheap agg replaces a changed-row join).
    Returns (node, lbl) with lbl = min node id reachable.
    """
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = nodes.select("node", F.col("node").alias("lbl")).localCheckpoint()
    prev_sum = labels.agg(F.sum("lbl")).first()[0]
    # iterative-stage reducer sizing, same scoped rule as
    # copair_components (see session.iterative_shuffle_parts for why
    # the conf spelling beats explicit repartition here).
    spark = labels.sparkSession
    with iterative_shuffle_parts(spark, edges.count()):
        for i in range(max_iter):
            msgs = edges.join(labels, edges.src == labels.node).select(
                F.col("dst").alias("node"), "lbl"
            )
            # convergence probe folded into the checkpoint job via
            # observe() — one job per round, not two (measured ~25%
            # of CC wall-clock; see plans/analytics.copair_components)
            obs = Observation(f"ccg_sum_{i}")
            labels = (
                labels.unionByName(msgs)
                .groupBy("node")
                .agg(F.min("lbl").alias("lbl"))
                .observe(obs, F.sum("lbl").alias("s"))
                .localCheckpoint()
            )
            new_sum = obs.get["s"]
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
    return labels


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round: every node u connects its LARGER neighbors
    to m(u) = min(Γ(u) ∪ {u}). Keyed agg + keyed join only."""
    b = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mn = b.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        b.filter(F.col("dst") > F.col("src"))
        .join(mn, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient every edge big→small; every node u
    connects its smaller neighbors AND itself to m(u) = min of them."""
    o = e.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    )
    mn = o.groupBy("src").agg(F.min("dst").alias("m"))
    out = (
        o.join(mn, "src")
        .select(F.col("dst").alias("v"), "m")
        .unionByName(mn.select(F.col("src").alias("v"), "m"))
    )
    return (
        out.filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def connected_components_star(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 30
) -> DataFrame:
    """Alternating large-star / small-star connected components — the
    O(log n)-ROUND scale path next to :func:`connected_components`
    (whose round count is the component DIAMETER). On a 1000-executor
    cluster every round is a full synchronization barrier, so a
    long-chain graph (diameter ≫ log n) pays for it under label
    propagation; star contraction converges in O(log n) rounds
    regardless of diameter (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14 — public algorithm). Per round:
    two keyed aggregations + two keyed joins, nothing all-pairs; hub
    nodes make the min-neighbor agg skew-prone, which partial
    aggregation (map-side combine on the groupBy) absorbs.

    Kept as an internal variant behind the registered propagation
    queries (same contract discipline as ``kcore_nodes_adaptive``):
    results are IDENTICAL — pinned in pytest on both the co-order
    graph and randomized small graphs — so the registered oracle
    semantics stay the simple spelling.

    Convergence: the star-edge set is a fixpoint of large∘small; exact
    set-equality is checked per round via ``exceptAll`` on the two
    materialized edge frames (edge-sized, keyed — the per-round cost
    the O(log n) round count amortizes).
    """
    cur = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    spark = cur.sparkSession
    with iterative_shuffle_parts(spark, cur.count()):
        for _ in range(max_rounds):
            nxt = _small_star(_large_star(cur)).localCheckpoint()
            changed = (
                nxt.exceptAll(cur).unionByName(cur.exceptAll(nxt))
                .limit(1)
                .count()
            )
            cur = nxt
            if changed == 0:
                break
    # cur is now a star forest: (member, root). Labels: members point to
    # their root, roots and isolated nodes to themselves.
    return nodes.join(
        cur.select(F.col("src").alias("node"), F.col("dst").alias("root")),
        "node",
        "left",
    ).select("node", F.coalesce("root", "node").alias("lbl"))


def neardup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """X2: near-duplicate CLUSTER RESOLUTION — the step a real dedup
    pipeline runs after candidate generation: LSH band pairs form an
    undirected graph; each connected component is one duplicate cluster;
    the min doc id is the cluster's canonical representative (the row a
    keep-one-per-cluster filter would retain).

    Composition of two oracled pieces (minhash_lsh_pairs + connected
    components), so the whole thing stays exact-checkable via a DuckDB
    recursive CTE over the same band-pair SQL. Per-round cost is one
    keyed join + one agg over the pair graph — which is *tiny* relative
    to the corpus (only docs sharing a band appear) — so the iterative
    part never touches full-corpus data.

    Output: (doc_id, cluster_id, is_canonical) for every document;
    singletons are their own cluster.
    """
    pairs = minhash_lsh_pairs(df, text_col, id_col)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    nodes = spread(df).select(F.col(id_col).alias("node"))
    labels = connected_components(nodes, edges)
    return labels.select(
        F.col("node").alias(id_col),
        F.col("lbl").alias("cluster_id"),
        (F.col("node") == F.col("lbl")).alias("is_canonical"),
    )


# --- X1c: Bloom-filter novelty check (incremental dedup) ---------------------
#
# The incremental-ingest problem: a new crawl batch must be deduplicated
# against a historical corpus that is orders of magnitude larger. Joining
# new-vs-history shuffles the history; the standard scale answer is a
# Bloom filter built once over the history's content fingerprints and
# BROADCAST to the probe side, so the historical corpus never moves and
# the probe is a map-only scan of the (small) new batch.
#
# Hashes are md5-derived like everything else in this module, and the
# bitmap test "bit p is set" is exactly "p ∈ {positions of history}" —
# so the whole filter, false positives included, is reproducible in
# DuckDB as a position-set membership check and the operator is
# oracle-checkable end to end.
#
# Sizing: BLOOM_M_BITS = 2^18 and k = 4 keep the broadcast at 32 KiB and
# the false-positive rate under 1e-4 at the test corpus size. At real
# scale, size m ≈ 12–15 bits per historical key (a 100 B-doc history →
# ~200 GiB is too big for one filter; shard the filter by pmod(hash, S)
# and probe the matching shard — same expressions, one extra join key).

BLOOM_M_BITS = 1 << 18
BLOOM_K = 4

_BLOOM_CACHE: dict[tuple, list[int]] = {}


def bloom_positions(c: Column, m: int = BLOOM_M_BITS, k: int = BLOOM_K) -> list[Column]:
    """k bit positions for one key from a single md5 call (k ≤ 4): the
    digest's four 32-bit slices, each mod m. Mirrors in DuckDB as
    CAST(('0x' || substr(md5(x), 1+8*s, 8)) AS BIGINT) % m."""
    digest = F.md5(c)
    return [
        (F.conv(F.substring(digest, 1 + 8 * s, 8), 16, 10).cast("long") % m)
        for s in range(k)
    ]


def bloom_build_bitmap(
    df: DataFrame,
    key_col: str = "text",
    m: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    cache_tag: str = "",
) -> list[int]:
    """Build the filter over the historical side: one distributed pass
    (explode k positions → per-word bit_or), then collect the ≤ m/64
    words to the driver. Memoized per (input file fingerprints, params,
    cache_tag) so repeated plan builds in one session train once — same
    discipline as the PQ codebook. File fingerprints carry mtime+size,
    so overwriting an input path in place invalidates the memo; but ANY
    transformation between the scan and this call — filter, limit,
    sample, union, a prior dedup stage — leaves the fingerprints
    unchanged, so callers passing a DERIVED frame (anything that is not
    a bare scan) must supply a distinct cache_tag or they get the bare
    scan's bitmap. The memo is LRU-bounded (each bitmap is m/64 longs
    of driver memory)."""
    files = _files_fingerprint(df)
    cache_key = (files, key_col, m, k, cache_tag)
    if files and cache_key in _BLOOM_CACHE:
        return _BLOOM_CACHE[cache_key]
    pos = df.select(
        F.explode(F.array(*bloom_positions(F.col(key_col), m, k))).alias("p")
    )
    words = (
        # shiftleft with a COLUMN shift count only exists in SQL form
        # (the Python DSL pins numBits to an int literal)
        pos.select(
            F.expr("p DIV 64").alias("w"),
            F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
    )
    bitmap = [0] * (m // 64)
    for r in words.collect():
        bitmap[r["w"]] = r["word"]
    if files:
        _lru_put(_BLOOM_CACHE, cache_key, bitmap)
    return bitmap


def bloom_novel(
    new_df: DataFrame,
    bitmap: list[int],
    key_col: str = "text",
    m: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Probe: keep rows whose key is NOT maybe-in-history (some bit
    unset). The bitmap rides into the plan as ONE array<bigint> literal
    (the broadcast), and the test is k element_at + bit-mask expressions
    — pure codegen, zero shuffle, the big side streams through.

    The literal is built as a SQL string parsed JVM-side, not
    ``F.lit(list)``: py4j marshals a Python list element-by-element, and
    at m=2^18 (4096 words) that costs ~3.4 s of DRIVER time per plan
    build vs ~0.6 s for one parse (measured; the probe itself executes
    in 0.6 s — the literal build was 5× the query)."""
    words = ",".join(f"{w}L" for w in bitmap)
    probed = new_df.withColumn(
        "__bm", F.expr(f"array({words})").cast("array<bigint>")
    )
    checks = []
    for s in range(k):
        p = (
            f"(CAST(conv(substring(md5(`{key_col}`), {1 + 8 * s}, 8), 16, 10)"
            f" AS BIGINT) % {m})"
        )
        checks.append(
            f"((shiftright(element_at(__bm, CAST({p} DIV 64 AS INT) + 1),"
            f" CAST({p} % 64 AS INT)) & 1L) = 1L)"
        )
    return probed.filter(~F.expr(" AND ".join(checks))).drop("__bm")


# prefix_jaccard_pairs' candidate join generates exactly Σ (prefix-df)²
# slots. Measured (round 11): sf0.01 6.0e3, sf0.1 3.0e5, sf1z (50 k
# Zipf docs) 5.6e5 — all green in seconds — vs the sf10 fixed-vocab
# axis where the full-index Σ df² ≈ 2e10 and the census row died at
# budget_exceeded(1800 s). 5e8 sits three decades above every measured
# green run and ~20× under the measured death; past it the exact
# operator cannot finish and ngram_jaccard_capped (rarest-R prefix,
# bounded slots) is the declared scale path.
PREFIX_JACCARD_MAX_SLOTS = 500_000_000


def prefix_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
    max_candidate_slots: int | None = PREFIX_JACCARD_MAX_SLOTS,
) -> DataFrame:
    """X2 at-scale variant: PPJoin-style PREFIX-FILTERED set-similarity
    join. The inverted-index join (ngram_jaccard_pairs) indexes every
    shingle; prefix filtering indexes only each document's
    ``|x| − ⌈τ|x|⌉ + 1`` RAREST shingles (global-frequency-ascending
    order), which is lossless for Jaccard ≥ τ — J(x,y) ≥ τ implies
    |x∩y| ≥ τ|x|, so two qualifying sets must collide inside those
    prefixes — while ubiquitous shingles sort LAST and never enter any
    prefix: the skew/noise cut falls out of the algorithm instead of a
    max_df knob, and candidate volume drops from Σ df² over all
    shingles to Σ df² over rare ones.

    τ is a RATIONAL (threshold_num/threshold_den) so the prefix length
    uses exact integer arithmetic — ⌈τn⌉ via (num·n + den − 1) div den;
    a float ceil(0.8·n) under-computes at n=5k (0.8 is not binary) and
    would silently break the completeness guarantee.

    Verification is exact per candidate: sorted distinct-shingle arrays
    join back by doc id and intersect (array_intersect — doc-bounded
    work), so the result EQUALS the naive algorithm's; the DuckDB
    oracle runs the naive full inverted index, making the optimization
    itself the thing under test.

    The doc-array frame feeds its consumers (prefix index + both
    verify sides) UNMATERIALIZED: they share the groupBy exchange via
    ReusedExchange (measured 2.8 s vs 5.0 s with a localCheckpoint of
    the ARRAY frame at sf0.1 — materializing array payloads costs more
    than the reuse saves). The narrow PRE-AGGREGATION frame
    (doc_id, (df, shingle)), by contrast, IS localCheckpointed when
    the scale guard is on (round 12): the guard's probe is a separate
    eager action, and materializing the highest array-free point of
    the chain lets the probe and the main job share the tokenize+df
    derivation instead of running it twice (the r11 regression). At
    sf0.1 the naive inverted index is still faster (2.1 s):
    prefix filtering's candidate savings pay at corpus sizes where
    Σdf² over common shingles dominates — this is the at-scale
    spelling, and the crossover is the point of keeping BOTH
    operators.

    Scale guard (``max_candidate_slots``, VERDICT_r10 #2): the exact
    prefix is lossless but structurally unbounded on saturated-vocab
    corpora — when the vocabulary stops growing (template/fixed-vocab
    strata), even the rarest shingles' df scales with the corpus and
    Σ(prefix-df)² goes quadratic (measured: census budget death at
    sf10 fixed-vocab, Σdf² ≈ 2e10). The probe measures the exact slot
    count with one linear aggregation and refuses past the guard with
    a typed :class:`AlgorithmScaleLimit` naming ngram_jaccard_capped
    as the scale path — no census row is ever a silent 30-minute
    budget death. ``None`` disables (the oracle twins never probe).
    """
    from pyspark.sql.window import Window  # noqa: F401  (doc parity)

    tau = F.lit(threshold_num) / F.lit(threshold_den)
    sh = shingles(df, text_col, id_col, n)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    keyed = sh.join(freq, "shingle").select(
        "doc_id", F.struct(F.col("df"), F.col("shingle")).alias("ks")
    )
    if max_candidate_slots is not None:
        # Round 12 (VERDICT r11 #2): the slot-probe guard below is a
        # separate eager action, and OSS Spark never reuses exchanges
        # ACROSS jobs — in round 11 the probe's chain (checkpointing
        # only the exploded prefix INDEX) re-ran the whole
        # tokenize→df→join derivation a second time inside the main
        # job's verify sides (driver-confirmed 2.35→5.46 s at sf0.1).
        # Materializing HERE — the narrow (doc_id, (df, shingle)) frame
        # BEFORE the per-doc aggregation — is the highest point both
        # the probe and the main job can share without paying array-
        # payload materialization (checkpointing `docs` measured
        # 12.6 s wall in the r11 three-way A/B): the probe's
        # collect_list pass and the main job's docs/idx subtrees all
        # scan this checkpoint, so tokenize+freq runs exactly once per
        # query. Measured same-box A/B (task_metrics --warmups 1,
        # sf0.1): executor run 39.9→22.7 s, CPU 23.8→15.2 s, tasks
        # 153→84, wall 6.77→5.80 s; the final frame's plan drops from
        # 8 documents scans / 28 Exchanges to 0 / 14
        # (plans/r12/prefix_jaccard_{before,after}.txt — the one
        # remaining scan happens inside the checkpoint job).
        # localCheckpoint (not stage_parquet) is deliberate: the frame
        # is consumed by this one query only, within one job tree —
        # see the localCheckpoint disposition table in
        # OPTIMIZATION_r12.md for the fault-tolerance tradeoff at
        # cluster scale.
        keyed = keyed.localCheckpoint()
    docs = keyed.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("ks")).alias("arr")
    ).select(
        "doc_id",
        F.transform("arr", lambda s: s.getField("shingle")).alias("shs"),
        F.size("arr").alias("n_sh"),
    )
    # ⌈τ·n⌉ in exact integers; prefix = n − ⌈τn⌉ + 1
    ceil_tau_n = F.expr(
        f"(n_sh * {threshold_num} + {threshold_den} - 1)"
        f" div {threshold_den}"
    )
    docs = docs.withColumn(
        "prefix", F.slice("shs", 1, (F.col("n_sh") - ceil_tau_n + 1).cast("int"))
    )
    idx = docs.select(
        "doc_id", F.explode("prefix").alias("shingle")
    )
    if max_candidate_slots is not None:
        # Typed scale guard (VERDICT_r10 #2): the candidate join below
        # generates exactly Σ (prefix-df)² slots, so measure that sum
        # BEFORE running the join — one linear aggregation over the
        # prefix index. The probe necessarily pays one collect_list
        # pass of its own (it is a separate eager action), but it and
        # the main job both derive from the `keyed` localCheckpoint
        # above, so the expensive tokenize→df derivation runs once.
        # The index itself is NOT checkpointed (round 12): inside the
        # main job the candidate sides and the verify sides share the
        # groupBy(doc_id) exchange via ReusedExchange (the pre-guard
        # r10 shape, measured 2.8 s vs 5.0 s with an array
        # checkpoint), and a second checkpoint here only added
        # serialization. Two r11 alternatives remain rejected:
        # checkpointing `docs` (array payloads through the block
        # store, 12.6 s wall) and rebuilding the index via row_number
        # (global shuffle-sort of the full shingle stream, CPU
        # 31.1 s vs 20.6 s).
        slots = (
            idx.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("dfp"))
            .agg(F.sum(F.col("dfp") * F.col("dfp")).alias("s"))
            .collect()[0]["s"]
        ) or 0
        if slots > max_candidate_slots:
            raise AlgorithmScaleLimit(
                f"prefix_jaccard: candidate volume Σ(prefix-df)² = "
                f"{slots:.2e} slots > {max_candidate_slots:.0e} guard — "
                "saturated-vocab regime (df no longer discriminates; "
                "measured budget death at sf10 fixed-vocab with Σdf² "
                "≈ 2e10); use ngram_jaccard_capped (rarest-R prefix, "
                "bounded slots) at this scale"
            )
    a, b = idx.alias("a"), idx.alias("b")
    cands = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    da = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shs").alias("shs_a"),
        F.col("n_sh").alias("n_a"),
    )
    db = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shs").alias("shs_b"),
        F.col("n_sh").alias("n_b"),
    )
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    jac = inter.cast("double") / (
        F.col("n_a") + F.col("n_b") - inter
    ).cast("double")
    return (
        cands.join(da, "doc_a")
        .join(db, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= tau)
    )


# --- X2a': capped (rarest-R prefix) shingle set-similarity ------------------
# The doc_cosine_pairs_capped policy (plans/llmops.py) transplanted to
# the shingle family: the exact inverted-index operators above carry
# Σ df² candidate slots, which saturates on template-heavy / fixed-
# vocabulary strata where shingle df stops discriminating (measured:
# ngram_jaccard crashes and prefix_jaccard exceeds the 420 s budget at
# sf10 on the fixed 31-word axis — Σ df² ≈ 2e10). The capped variant
# bounds the index at exactly R rows per document — its RAREST R kept
# shingles under the global (df asc, shingle asc) total order — so
# candidate volume is Σ (prefix-df)² over the rare tail only, and every
# surviving pair is rescored EXACTLY on the full kept shingle space:
# capped ⊆ exact structurally; the policy can only MISS pairs, never
# mis-score one. Both knobs are deterministic integer ranks, so the
# DuckDB twins apply the identical policy and the parity rows certify
# the whole pruned plan.
NGRAM_PREFIX_R = 10
NGRAM_MIN_SHARED = 2


def _capped_shingle_candidates(
    kept: DataFrame,
    prefix_r: int = NGRAM_PREFIX_R,
    min_shared: int = NGRAM_MIN_SHARED,
    length_num: int | None = None,
    length_den: int | None = None,
) -> DataFrame:
    """Candidate (doc_a < doc_b) pairs from rarest-R prefix collisions.

    ``kept`` is the (doc_id, shingle) frame AFTER whatever df-space cut
    the caller's metric uses (max_df for Jaccard, relative-df for
    containment) — the prefix is drawn from, and the metric later
    scored on, the SAME space, keeping the operator self-consistent.

    A pair must share >= min(min_shared, |prefix_a|, |prefix_b|)
    prefix shingles (the adaptive floor keeps single-kept-shingle docs
    reachable — the same guard doc_cosine_pairs_capped ships). With
    ``length_num/length_den`` set (Jaccard τ = num/den), the PPJoin
    length filter ``den·min(n) >= num·max(n)`` — lossless for J >= τ —
    drops candidates BEFORE the pair aggregate, inside the join stage.
    """
    from pyspark.sql.window import Window

    dfc = kept.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # df-1 shingles can never witness a pair (nobody else holds them) —
    # spending a prefix slot on one is pure loss, and on corpora with
    # injected/organic unique n-grams they would monopolize the rarest-R
    # ranks (measured: containment recall 32/46 → 46/46 at sf0.1z once
    # excluded). Dropping them is lossless for the candidate set.
    # Deliberately NOT checkpointed (round 11): the plan audit showed
    # 122 Exchange nodes from this chain's replication, but a measured
    # A/B (pref + post-cut sh checkpoints) read +33% executor CPU and
    # +29% shuffle at sf0.1 — runtime exchange/broadcast reuse already
    # shares the replicated subtrees, and materialization only adds
    # serialization. The formatted plan overstates real execution here
    # (same lesson as token_pmi).
    pref = (
        kept.join(dfc.filter(F.col("df") >= 2), "shingle")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("df").asc(), F.col("shingle").asc()
                )
            ),
        )
        .filter(F.col("rk") <= prefix_r)
        .select("doc_id", "shingle")
    )
    use_len = length_num is not None and length_den is not None
    if use_len:
        sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        pref = pref.join(sizes, "doc_id")
    pn = pref.groupBy("doc_id").agg(F.count(F.lit(1)).alias("pn"))
    pa, pb = pref.alias("pa"), pref.alias("pb")
    joined = pa.join(pb, "shingle").filter(
        F.col("pa.doc_id") < F.col("pb.doc_id")
    )
    if use_len:
        joined = joined.filter(
            (F.least("pa.n_sh", "pb.n_sh") * length_den)
            >= (F.greatest("pa.n_sh", "pb.n_sh") * length_num)
        )
    # The pair aggregate stays HERE (unlike doc_cosine_pairs_capped,
    # which emits each pair exactly once from its smallest shared
    # prefix token with zero aggregation state): the shingle regime's
    # prefix dfs are small (3-gram shingles discriminate; this stage
    # never spilled at sf10z), so the aggregate's per-slot cost — one
    # (long,long) hash-map update — beats carrying both docs' prefix
    # arrays through the join and intersecting them per slot. Measured
    # A/B at sf10z (same box, same session, the O(len²) shingling fix
    # applied to both sides): aggregate spelling 134.0 s vs
    # array_intersect exactly-once emission 173.5 s for
    # ngram_jaccard_capped (neardup_eval_capped 36.8 vs 38.1) — the
    # stateless emission is a token-regime (high-df postings) tool,
    # not a universal win.
    return (
        joined.groupBy(
            F.col("pa.doc_id").alias("doc_a"),
            F.col("pb.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .join(
            pn.select(F.col("doc_id").alias("doc_a"),
                      F.col("pn").alias("pn_a")),
            "doc_a",
        )
        .join(
            pn.select(F.col("doc_id").alias("doc_b"),
                      F.col("pn").alias("pn_b")),
            "doc_b",
        )
        .filter(
            F.col("n_shared")
            >= F.least(F.lit(min_shared), F.col("pn_a"), F.col("pn_b"))
        )
        .select("doc_a", "doc_b")
    )


def ngram_jaccard_capped_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
    max_df: int | None = 1000,
    prefix_r: int = NGRAM_PREFIX_R,
    min_shared: int = NGRAM_MIN_SHARED,
    stage_dir: str | None = None,
) -> DataFrame:
    """X2a': scale-safe twin of :func:`ngram_jaccard_pairs` — IDENTICAL
    metric (Jaccard over the df<=max_df shingle space, threshold
    num/den) but candidates come from rarest-R prefix collisions plus
    the lossless PPJoin length filter instead of the full inverted
    index. Emitted pairs' jaccard is the EXACT kept-space value
    (candidates re-join the complete kept frame for scoring), so
    results are a subset of the exact operator's — recall is pinned in
    pytest (1.0 on injected dups everywhere; >=0.97 vs exact on the
    Zipf axis where organic near-misses exist).

    Scale shape: the prefix index holds exactly R rows per doc; the
    generation join carries Σ(prefix-df)² slots over the rare tail
    (48x fewer than Σdf² on the fixed-vocab axis at sf10) with the
    length filter applied inside the join stage; scoring touches only
    |candidates|·doc_len rows, keyed by doc id — never all-pairs.
    """
    sh = shingles(df, text_col, id_col, n)
    if stage_dir is not None:
        sh = stage_parquet(
            sh, stage_dir, _files_fingerprint(df), (text_col, id_col, n)
        )
    if max_df is not None:
        df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        sh = sh.join(
            F.broadcast(df_counts.filter(F.col("df") > max_df)),
            "shingle", "left_anti",
        )
    cand = _capped_shingle_candidates(
        sh, prefix_r, min_shared,
        length_num=threshold_num, length_den=threshold_den,
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    ka = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    kb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(ka, "doc_a")
        .join(kb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).cast("double")
    tau = F.lit(threshold_num) / F.lit(threshold_den)
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= tau)
    )
