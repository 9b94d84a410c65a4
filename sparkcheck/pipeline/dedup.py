"""Deduplication operators for large-scale text corpora.

All operators are pure DataFrame compositions (no Python UDFs) using
md5-based hashing, so every step is portable to an ANSI-SQL oracle and
deterministic across engines and partitionings.

Scale design:
- exact/fingerprint dedup: one shuffle on the hash (groupBy) — the hash is
  uniformly distributed so no skew; at 100 TB bucket the table by the hash.
- MinHash-LSH: explode-to-shingles is map-side; signatures are one groupBy
  per doc; band buckets are one groupBy on (band_id, band_hash). Candidate
  pairs never materialize the full O(n^2) space — only same-bucket pairs.
- n-gram Jaccard: exact pairwise scoring; the shared-shingle self-join is the
  scale hazard, so use it only downstream of LSH candidates (or small dims);
  `jaccard_pairs` keeps a `max_pairs_per_shingle` guard against hot shingles
  (stop-shingle skew — the same reason north_star salts codec hot keys).
"""

from __future__ import annotations

import posixpath
from urllib.parse import urlsplit

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _shingle_expr(text_col: str, n: int) -> str:
    """Word n-gram shingles as a Spark SQL expression (empty when < n words)."""
    w = f"split({text_col}, ' ')"
    if n == 1:
        return w
    return (f"CASE WHEN size({w}) >= {n} THEN "
            f"transform(sequence(1, size({w}) - {n - 1}), i -> concat_ws(' ', slice({w}, i, {n}))) "
            f"ELSE array() END")


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 2) -> DataFrame:
    """(id, shingle) distinct pairs."""
    return (df.select(F.col(id_col), F.explode(F.expr(_shingle_expr(text_col, n))).alias("shingle"))
            .distinct())


def exact_duplicates(df: DataFrame, id_col: str, text_col: str,
                     normalize: bool = False) -> DataFrame:
    """Hash-groupBy exact dedup. ``normalize`` lowercases and collapses
    whitespace first (document fingerprinting)."""
    txt = F.col(text_col)
    if normalize:
        txt = F.regexp_replace(F.lower(txt), r"\s+", " ")
    h = df.select(F.md5(txt).alias("fp"), F.col(id_col))
    groups = h.groupBy("fp").agg(F.count(F.lit(1)).alias("cnt"))
    return groups.filter(F.col("cnt") > 1)


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 8, shingle_n: int = 2) -> DataFrame:
    """K min-hashes per doc. Each 'permutation' is min(md5(seed || shingle)) —
    the lexicographic min over hex digests is a valid uniform min-hash and is
    identical across engines (no 64-bit int conv needed)."""
    sh = shingles(df, id_col, text_col, shingle_n)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle")))).alias(f"mh{s}")
        for s in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_buckets(signatures: DataFrame, id_col: str, num_hashes: int = 8,
                band_size: int = 2) -> DataFrame:
    """(band_id, band_hash, id): same-bucket docs are near-dup candidates."""
    n_bands = num_hashes // band_size
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"mh{b * band_size + j}") for j in range(band_size)]
        bands.append(F.struct(F.lit(b).alias("band_id"),
                              F.md5(F.concat(*cols)).alias("band_hash")))
    return (signatures
            .select(F.col(id_col), F.explode(F.array(*bands)).alias("band"))
            .select(id_col, "band.band_id", "band.band_hash"))


def lsh_candidate_stats(df: DataFrame, id_col: str, text_col: str,
                        num_hashes: int = 8, band_size: int = 2,
                        shingle_n: int = 2) -> DataFrame:
    """One-row summary: #buckets, #multi-doc buckets, #candidate pairs."""
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    buckets = lsh_buckets(sigs, id_col, num_hashes, band_size)
    per_bucket = buckets.groupBy("band_id", "band_hash").agg(
        F.count(F.lit(1)).alias("n"))
    return per_bucket.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.coalesce(F.sum(F.when(F.col("n") > 1, 1).otherwise(0)), F.lit(0)).alias("multi_buckets"),
        F.coalesce(F.sum(F.expr("n * (n - 1) / 2")).cast("bigint"), F.lit(0)).alias("candidate_pairs"))


def jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                  shingle_n: int = 1, threshold: float = 0.8,
                  max_pairs_per_shingle: int | None = 1_000_000,
                  materialize: bool = True) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing >= 1 shingle.
    Returns (id_a, id_b, jaccard). At scale, feed LSH candidates instead of
    the raw self-join.

    ``max_pairs_per_shingle`` guards the self-join against hot shingles
    (stop-shingle skew): a shingle occurring in df documents contributes
    df*(df-1)/2 pairs, so one stopword shared by every doc makes the join
    quadratic in corpus size. Shingles whose pair contribution exceeds the
    cap are dropped from the shingle space entirely — from the join AND the
    size counts, keeping the jaccard consistent on the filtered space (such
    shingles carry ~zero similarity signal anyway; they appear everywhere).
    Pass None to disable (exact semantics, unbounded skew)."""
    sh = shingles(df, id_col, text_col, shingle_n)
    # sh feeds four consumers (hot-list, both self-join sides, sizes); as a
    # plan subtree each would re-scan + re-explode + re-distinct the corpus
    # (measured: 9 FileScans). A lazy localCheckpoint rebases them all on ONE
    # materialized RDD — computed once at first use, blocks reused by every
    # consumer (MEMORY_AND_DISK, so it spills rather than OOMs). Lifecycle:
    # the blocks are released by Spark's ContextCleaner once the returned
    # DataFrame is garbage-collected (no explicit unpersist hook exists at
    # this layer). Tradeoff: localCheckpoint truncates lineage, so losing an
    # executor mid-job fails the job instead of recomputing — pass
    # materialize=False on preemptible clusters (costs the repeated scans).
    if materialize:
        sh = sh.localCheckpoint(eager=False)
    if max_pairs_per_shingle is not None:
        # df*(df-1)/2 <= cap  <=>  df <= (1 + sqrt(1+8*cap)) / 2
        max_df = int((1 + (1 + 8 * max_pairs_per_shingle) ** 0.5) // 2)
        # the HOT set is tiny by construction (each member appears in >max_df
        # docs), so broadcast it into an anti-join — the big side never
        # shuffles for the guard
        hot = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
               .filter(F.col("__df") > max_df).select("shingle"))
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    shared = (a.join(b, "shingle")
              .filter(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("shared")))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (shared.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard", F.col("shared") /
                        (F.col("sz_a") + F.col("sz_b") - F.col("shared")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def embedding_near_dup_pairs(df: DataFrame, id_col: str, vec_col: str,
                             bucket_col: str, threshold: float = 0.8,
                             round_digits: int = 6,
                             max_cell_size: int | None = 10_000) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, bucketed by ``bucket_col``
    (IVF-style: only same-bucket pairs are scored — at 100 TB the bucket is a
    coarse-quantizer cell, here any precomputed cluster/label column).
    Cosine via native zip_with/aggregate — no Python UDF. Returns
    (id_a, id_b, cos) with cos rounded for engine-portable comparisons.

    ``max_cell_size`` caps the within-cell all-pairs blowup: a cell of c
    vectors costs O(c^2) comparisons, so one degenerate coarse cell (all-zero
    embeddings, a catch-all label) can dominate the whole job. Cells larger
    than the cap are dropped — at scale, re-cluster such cells with a finer
    quantizer rather than brute-forcing them. Pass None to disable."""
    a = df.select(F.col(bucket_col).alias("__b"), F.col(id_col).alias("id_a"),
                  F.col(vec_col).alias("__va"))
    b = df.select(F.col(bucket_col).alias("__b"), F.col(id_col).alias("id_b"),
                  F.col(vec_col).alias("__vb"))
    if max_cell_size is not None:
        keep = (df.groupBy(F.col(bucket_col).alias("__b"))
                .agg(F.count(F.lit(1)).alias("__c"))
                .filter(F.col("__c") <= max_cell_size).select("__b"))
        a = a.join(keep, "__b", "left_semi")
        b = b.join(keep, "__b", "left_semi")
    pairs = a.join(b, "__b").filter(F.col("id_a") < F.col("id_b"))
    dot = F.aggregate(
        F.zip_with("__va", "__vb", lambda x, y: x.cast("double") * y),
        F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate("__va", F.lit(0.0), lambda acc, x: acc + x.cast("double") * x))
    nb = F.sqrt(F.aggregate("__vb", F.lit(0.0), lambda acc, x: acc + x.cast("double") * x))
    return (pairs.withColumn("cos", F.round(dot / (na * nb), round_digits))
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", "cos"))


_HEX_HIGH = ["8", "9", "a", "b", "c", "d", "e", "f"]

# LONG_MIN written as arithmetic so the literal parses identically in Spark
# and DuckDB (a bare -9223372036854775808 literal overflows to HUGEINT in
# DuckDB's parser before negation).
_LONG_MIN = -9223372036854775807 - 1


def _hex_bit_chars(bit: int) -> list[str]:
    """Hex characters whose 4-bit value has `bit` set (lowercase md5 digits)."""
    return [format(v, "x") for v in range(16) if v & (1 << bit)]


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash over word tokens: bit j is the sign of the sum of
    (+1 / -1) votes from the j-th hex nibble's high bit of each token's md5.
    Engine-portable (md5 + CASE only).

    .. deprecated:: prefer :func:`simhash64`. A 16-bit space holds only
       65,536 hash values, so at web scale nearly every pair lands within a
       small hamming distance and "near-duplicate" loses meaning; worse, the
       pigeonhole bands over 16 bits have <=16 values each, making the
       candidate join quadratic. Kept for the tiny-fixture oracle demo only."""
    tok = df.select(F.col(id_col),
                    F.explode(F.split(F.col(text_col), " ")).alias("t"))
    tok = tok.withColumn("h", F.md5(F.col("t")))
    votes = [
        F.sum(F.when(F.substring(F.col("h"), j + 1, 1).isin(_HEX_HIGH), 1)
              .otherwise(-1)).alias(f"v{j}")
        for j in range(16)
    ]
    per_doc = tok.groupBy(id_col).agg(*votes)
    bits = [F.when(F.col(f"v{j}") >= 0, 2 ** j).otherwise(0) for j in range(16)]
    expr = bits[0]
    for b in bits[1:]:
        expr = expr + b
    return per_doc.select(F.col(id_col), expr.cast("int").alias("simhash"))


def _hadoop_location(p: str, default_fs: str) -> tuple[str, str, str]:
    """(scheme, authority, path) of a Hadoop path. A path without a scheme
    lives on the default filesystem, and every ``file:`` spelling
    ('file:/x', 'file:///x') is the one local filesystem."""
    u = urlsplit(p)
    fs = u if u.scheme else urlsplit(default_fs)
    authority = "" if fs.scheme == "file" else fs.netloc.lower()
    return fs.scheme, authority, posixpath.normpath(u.path or "/")


def _is_checkpoint_dir(existing: str, requested: str, default_fs: str) -> bool:
    """Whether the session's checkpoint dir ``existing`` is ``requested``.
    setCheckpointDir stores a scheme-qualified UUID SUBDIR of the requested
    path ('/tmp/cc' -> 'file:/tmp/cc/<uuid>'), so a repeat call with the
    same plain path matches its own directory; scheme and authority must
    match too, or 'hdfs://nn/tmp/cc/<uuid>' would pass for a local '/tmp/cc'."""
    ex_scheme, ex_auth, ex_path = _hadoop_location(existing, default_fs)
    req_scheme, req_auth, req_path = _hadoop_location(requested, default_fs)
    return ((ex_scheme, ex_auth) == (req_scheme, req_auth)
            and req_path in (ex_path, posixpath.dirname(ex_path)))


def duplicate_clusters(pairs: DataFrame, id_a: str = "id_a",
                       id_b: str = "id_b", max_iter: int = 25,
                       checkpoint_dir: str | None = None,
                       allow_partial: bool = False) -> DataFrame:
    """Connected components over near-duplicate pairs: returns (id, cluster)
    where cluster is the minimum id reachable through the pair graph — the
    step that turns pairwise near-dup hits (MinHash/SimHash/Jaccard/
    embedding) into dedup groups with a canonical representative.

    Algorithm: min-label propagation with pointer jumping. Each round every
    node takes min(own label, neighbors' labels) — one equi-join shuffle on
    the edge key — then short-circuits through its label's label (pointer
    jump), so chains collapse in O(log diameter) rounds rather than
    O(diameter). Labels only decrease (monotone), so stale reads are safe
    and the fixpoint is exact. Lineage is truncated per round — an iterative
    plan would otherwise grow exponentially. Near-dup graphs are unions of
    small cliques/chains, so few rounds suffice; for adversarial giant
    components at 100 TB, swap in alternating small-star/large-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — same join primitive, provably O(log^2 n) rounds.

    Fault tolerance at cluster scale: by default each round truncates
    lineage with ``localCheckpoint`` (blocks stored on executors — fast, but
    an executor loss mid-job is unrecoverable because truncated lineage
    cannot recompute). Pass ``checkpoint_dir`` (HDFS/S3/DBFS path) to use
    reliable ``checkpoint()`` instead: rounds survive executor loss at the
    cost of one distributed write per round. On a multi-hour 100-TB run,
    always set it.

    If ``max_iter`` rounds exhaust before the fixpoint, labels are only
    partially propagated (some clusters split). That raises RuntimeError
    unless ``allow_partial=True``, which logs a warning and returns the
    partial labels (callers doing incremental refinement may want them)."""
    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        # setCheckpointDir is a GLOBAL SparkContext mutation: only set it
        # when none is configured, so this call never silently redirects
        # other df.checkpoint() users for the rest of the session. A
        # conflicting pre-set dir is an explicit error, not a clobber.
        jsc = spark.sparkContext._jsc
        current = jsc.sc().getCheckpointDir()
        if not current.isDefined():
            spark.sparkContext.setCheckpointDir(checkpoint_dir)
        elif not _is_checkpoint_dir(
                current.get(), checkpoint_dir,
                jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")):
            raise ValueError(
                f"SparkContext already has checkpoint dir {current.get()!r}; "
                f"refusing to clobber it with {checkpoint_dir!r} — "
                "either omit checkpoint_dir (the session's is used) or "
                "set the session-level dir to the desired path")

    def _truncate(df: DataFrame, eager: bool) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=eager)
        return df.localCheckpoint(eager=eager)

    e = _truncate(
        pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
        .union(pairs.select(F.col(id_b).alias("s"), F.col(id_a).alias("d")))
        .distinct(), eager=False)
    labels = (e.select(F.col("s").alias("id")).distinct()
              .withColumn("lbl", F.col("id")))
    converged = False
    for _ in range(max_iter):
        nmin = (e.join(labels.select(F.col("id").alias("d"),
                                     F.col("lbl").alias("dl")), "d")
                .groupBy("s").agg(F.min("dl").alias("nl")))
        upd = (labels.join(nmin.select(F.col("s").alias("id"), "nl"),
                           "id", "left")
               .select("id",
                       F.least(F.col("lbl"),
                               F.coalesce(F.col("nl"), F.col("lbl"))).alias("lbl"),
                       F.col("lbl").alias("old")))
        # pointer jump: follow my label's label (monotone, same component)
        hop = labels.select(F.col("id").alias("lbl"), F.col("lbl").alias("ll"))
        jumped = _truncate(
            upd.join(hop, "lbl", "left")
            .select("id",
                    F.least(F.col("lbl"),
                            F.coalesce(F.col("ll"), F.col("lbl"))).alias("lbl"),
                    "old"), eager=True)
        changed = jumped.filter(F.col("lbl") < F.col("old")).limit(1).count()
        labels = jumped.select("id", "lbl")
        if changed == 0:
            converged = True
            break
    if not converged:
        msg = (f"duplicate_clusters did not converge within max_iter="
               f"{max_iter} rounds; labels are partially propagated "
               f"(clusters may be split). Raise max_iter.")
        if not allow_partial:
            raise RuntimeError(msg)
        import warnings
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels.select(F.col("id"), F.col("lbl").alias("cluster"))


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over word tokens, stored as a signed BIGINT bit
    pattern (bit 63 is the sign bit — two's complement, identical in Spark
    and DuckDB, verified by the oracle).

    Bit j (0..63) is the sign of the sum over tokens of (+1/-1) votes from
    bit (j % 4) of hex nibble (j // 4) of the token's md5 — i.e. the first
    16 hex chars supply 64 independent hash bits. Pure Catalyst (md5 +
    substring + CASE), engine-portable, one map-side-combinable groupBy.

    Scale: 64 bits keep hamming distance meaningful on billions of docs
    (16-bit saturates at 65k values), and 16-bit pigeonhole bands give 65,536
    bucket values per band so the candidate join in
    :func:`simhash_near_dup_pairs` stays O(n / 2^16) per bucket."""
    tok = df.select(F.col(id_col),
                    F.explode(F.split(F.col(text_col), " ")).alias("t"))
    # decode the 16 hex chars into two exact 32-bit ints ONCE per token;
    # each bit vote is then a shift+mask on a long — measured ~2x faster
    # than 64 per-bit substring+isin string probes. conv() reads the hex
    # big-endian: char 1 is the most significant nibble of c1, so bit b of
    # nibble `nib` sits at shift (7 - nib%8)*4 + b of its half. Semantics
    # are bit-identical to the oracle's per-nibble CASE form.
    tok = tok.withColumn("h", F.md5(F.col("t")))
    tok = tok.select(
        id_col,
        F.conv(F.substring("h", 1, 8), 16, 10).cast("long").alias("c1"),
        F.conv(F.substring("h", 9, 8), 16, 10).cast("long").alias("c2"),
        F.lit(1).alias("one"))
    votes = [F.sum("one").alias("__n")]
    for j in range(64):
        nib, bit = divmod(j, 4)
        src = F.col("c1") if nib < 8 else F.col("c2")
        shift = (7 - nib % 8) * 4 + bit
        votes.append(
            F.sum(F.shiftright(src, shift).bitwiseAND(F.lit(1)))
            .alias(f"v{j}"))
    per_doc = tok.groupBy(id_col).agg(*votes)
    # sign(sum of +/-1 votes) >= 0  <=>  2 * sum(bits) >= token count
    # bit 63 contributes LONG_MIN (two's complement); bits 0..62 are 2^j
    n = F.col("__n")
    expr = F.when(2 * F.col("v63") >= n, F.lit(_LONG_MIN).cast("long")) \
        .otherwise(F.lit(0).cast("long"))
    for j in range(63):
        expr = expr + F.when(2 * F.col(f"v{j}") >= n,
                             F.lit(1 << j).cast("long")).otherwise(F.lit(0))
    return per_doc.select(F.col(id_col), expr.cast("long").alias("simhash"))


def hamming16(a, b):
    """Hamming distance between two simhash columns (bit_count of xor);
    works for any integer width (16- or 64-bit)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_bands(sigs: DataFrame, id_col: str, n_bands: int,
                  total_bits: int = 64,
                  hash_col: str = "simhash") -> DataFrame:
    """Explode signatures into (id, simhash, band_id, band_val) pigeonhole
    bands: `total_bits` split into `n_bands` contiguous bands as evenly as
    possible. Any pair within hamming distance n_bands-1 agrees exactly on
    at least one band. Exposed separately so tests can audit per-band bucket
    cardinality (the scale invariant: bucket size ~ n / 2^band_bits)."""
    sizes = [(total_bits // n_bands) + (1 if i < total_bits % n_bands else 0)
             for i in range(n_bands)]
    bands = []
    shift = 0
    for i, width in enumerate(sizes):
        mask = (1 << width) - 1
        if mask >= 1 << 63:  # width 64: all-ones mask is -1 as a signed long
            mask -= 1 << 64
        # arithmetic shiftright sign-extends for bit-63 bands, but the mask
        # keeps only the low `width` bits — same result as a logical shift
        bands.append(F.struct(
            F.lit(i).alias("band_id"),
            F.shiftright(F.col(hash_col), shift).bitwiseAND(F.lit(mask))
            .cast("long").alias("band_val")))
        shift += width
    return (sigs.select(id_col, hash_col,
                        F.explode(F.array(*bands)).alias("b"))
            .select(id_col, hash_col, "b.band_id", "b.band_val"))


def simhash_near_dup_pairs(df: DataFrame, id_col: str, text_col: str,
                           max_hamming: int = 3,
                           hash_bits: int = 64) -> DataFrame:
    """Near-duplicate pairs by SimHash within `max_hamming` bits
    (default: 64-bit hash).

    Pigeonhole multi-index: split the hash into max_hamming+1 bit bands —
    any pair within hamming distance max_hamming agrees EXACTLY on at least
    one band, so candidates are same-(band, band-value) pairs (one
    groupBy-sized join key); candidates are then verified with
    bit_count(xor). Pure Catalyst (shifts/masks), engine-portable.

    With hash_bits=64 and max_hamming=3 each band is 16 bits → 65,536
    distinct bucket values per band, so same-bucket candidate groups stay
    O(n/2^16) and the join is sub-quadratic at any corpus size.
    hash_bits=16 (deprecated) keeps the old demo behavior, whose ≤16-value
    bands ARE quadratic — see :func:`simhash16`.
    Returns (id_a, id_b, hamming) distinct verified pairs."""
    n_bands = max_hamming + 1
    if hash_bits == 64:
        sigs = simhash64(df, id_col, text_col)
    elif hash_bits == 16:
        sigs = simhash16(df, id_col, text_col)
    else:
        raise ValueError(f"hash_bits must be 16 or 64, got {hash_bits}")
    banded = simhash_bands(sigs, id_col, n_bands, total_bits=hash_bits)
    a = banded.select(F.col(id_col).alias("id_a"),
                      F.col("simhash").alias("h_a"), "band_id", "band_val")
    b = banded.select(F.col(id_col).alias("id_b"),
                      F.col("simhash").alias("h_b"), "band_id", "band_val")
    cand = (a.join(b, ["band_id", "band_val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "h_a", "h_b").distinct())
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (cand.withColumn("hamming", ham.cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def canonical_docs(df: DataFrame, clusters: DataFrame, *,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Choose one representative per near-duplicate cluster — the standard
    final step of a fuzzy-dedup pipeline (pairs -> connected components ->
    keep one, drop the rest). The representative is the LONGEST text, ties
    broken by minimum id, so the choice is deterministic across engines and
    partitionings. Docs in no cluster are their own representative.

    Returns (id, cluster, keep): filter keep=true for the deduplicated
    corpus, keep=false rows are the drop list.

    Scale shape: one shuffle keyed on the cluster label; the per-cluster
    window is bounded by cluster size (near-dup clusters are small by
    construction; a giant cluster signals a degenerate threshold — see
    duplicate_clusters). At 100 TB pass a precomputed length column as
    ``text_col`` to avoid re-reading the raw text."""
    lab = clusters.withColumnRenamed("id", id_col) \
        if "id" in clusters.columns and id_col != "id" else clusters
    j = (df.select(F.col(id_col), F.length(F.col(text_col)).alias("__len"))
         .join(lab.select(F.col(id_col), "cluster"), id_col, "left")
         .withColumn("cluster", F.coalesce(F.col("cluster"), F.col(id_col))))
    from pyspark.sql import Window
    w = Window.partitionBy("cluster").orderBy(F.desc("__len"), F.col(id_col))
    return (j.withColumn("keep", F.row_number().over(w) == 1)
            .select(F.col(id_col).alias("id"), "cluster", "keep"))
