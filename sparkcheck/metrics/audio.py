"""Per-row audio invariants over Arrow batches.

North-star requirement (BASELINE.json input_hint): decoded-PCM allclose with
SNR >= 30 dB vs a reference clip + transcript equality, with *no per-row
Python* — the decode and the header parse run per Arrow batch in
`mapInPandas`, and nothing is cached. Transcript equality itself stays a
native Column (eqNullSafe — reference semantics
column_pair_values_equal.py:40-43); only the PCM decode/SNR and the header
parse need Python.

Codec support: 'wav'/'pcm' are decoded for real (stdlib wave/numpy — WAV is a
trivial RIFF container). 'flac'/'mp3'/'opus' decoding requires codec libraries
that are NOT in this container — those branches are REAL Spark plumbing with a
clearly marked stub decode (raises NotImplementedError unless
`strict_codecs=False`, which treats the payload as raw PCM16 — what the
deterministic fixture generator emits for every codec).

Scale notes: the SNR check is the only operator that must read the
`bytes:binary` column; the join against the reference table is an equi-join on
clip_id — broadcast when the reference is a sampled dim, AQE skew-join +
salting hooks for the codec/sr_hz hot keys (see salted_repartition below).
"""

from __future__ import annotations

import io
import threading
import wave
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SUPPORTED_CODECS = ("wav", "pcm")


def encode_wav_pcm16(samples: np.ndarray, sr_hz: int) -> bytes:
    """Deterministic mono PCM16 WAV encoding (fixture + roundtrip tests)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr_hz)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def _riff_pcm16_fast(payload: bytes) -> np.ndarray | None:
    """Zero-copy RIFF/WAVE PCM16 decode: walk the chunk list with byte ops
    instead of wave.open (which costs ~20us/row in the hot UDF loop). Returns
    None when the container isn't plain PCM16 (caller falls back to `wave`)."""
    if len(payload) < 44 or payload[8:12] != b"WAVE":
        return None
    pos, fmt_ok, data = 12, False, None
    n = len(payload)
    while pos + 8 <= n:
        cid = payload[pos:pos + 4]
        size = int.from_bytes(payload[pos + 4:pos + 8], "little")
        if cid == b"fmt " and pos + 24 <= n:
            audio_fmt = int.from_bytes(payload[pos + 8:pos + 10], "little")
            bits = int.from_bytes(payload[pos + 22:pos + 24], "little")
            fmt_ok = audio_fmt == 1 and bits == 16
        elif cid == b"data":
            if pos + 8 + size > n:
                # truncated data chunk: reject rather than decoding partial
                # audio (wave.open raises wave.Error here; a corrupt payload
                # must score as undecodable, not as a finite SNR)
                return None
            data = payload[pos + 8:pos + 8 + size]
            break
        pos += 8 + size + (size & 1)
    if not fmt_ok or data is None:
        return None
    usable = len(data) - (len(data) % 2)
    v = np.frombuffer(data[:usable], dtype="<i2").astype(np.float32)
    v /= 32768.0
    return v


def decode_pcm(payload: bytes | None, codec: str | None, strict_codecs: bool = False) -> np.ndarray | None:
    """Decode a clip payload to float32 PCM in [-1, 1]."""
    if payload is None:
        return None
    codec = (codec or "wav").lower()
    if codec == "wav" or payload[:4] == b"RIFF":
        fast = _riff_pcm16_fast(bytes(payload))
        if fast is not None:
            return fast
        try:
            with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
                nframes = w.getnframes()
                width = w.getsampwidth() * w.getnchannels()
                frames = w.readframes(nframes)
            if len(frames) < nframes * width:
                return None  # truncated data chunk: undecodable, not partial
            return np.frombuffer(frames, dtype="<i2").astype(np.float32) / np.float32(32768.0)
        except (wave.Error, EOFError):
            return None
    if codec == "pcm":
        usable = len(payload) - (len(payload) % 2)
        return np.frombuffer(bytes(payload[:usable]), dtype="<i2").astype(np.float32) / np.float32(32768.0)
    if strict_codecs:
        # STUB: flac/mp3/opus decoders are not available in this container.
        raise NotImplementedError(
            f"codec '{codec}' decode requires an external codec library; "
            "pass strict_codecs=False to treat the payload as raw PCM16")
    usable = len(payload) - (len(payload) % 2)
    return np.frombuffer(bytes(payload[:usable]), dtype="<i2").astype(np.float32) / np.float32(32768.0)


def snr_db(ref: np.ndarray | None, test: np.ndarray | None) -> float:
    """SNR of `test` against reference PCM, in dB. Length mismatch compares the
    common prefix and counts the tail as pure noise energy."""
    if ref is None or test is None:
        return float("-inf")
    n = min(len(ref), len(test))
    if n == 0:
        return float("-inf")
    # dot products (SIMD, no temp squares); SNR is scale-invariant so the
    # float32 PCM scale cancels
    r = ref[:n]
    sig = float(np.dot(r, r))
    d = r - test[:n]
    noise = float(np.dot(d, d))
    if len(ref) != len(test):
        tail = ref[n:] if len(ref) > n else test[n:]
        noise += float(np.dot(tail, tail))
    if noise == 0.0:
        return float("inf")
    if sig == 0.0:
        return float("-inf")
    return 10.0 * np.log10(sig / noise)


_CRBS = "spark.sql.parquet.columnarReaderBatchSize"
_ARB = "spark.sql.execution.arrow.maxRecordsPerBatch"

# Conf overrides are session-global, so two concurrent payload actions on the
# same SparkSession would clobber each other's set/restore pairs and could
# leak the small-batch override onto narrow scans. A reentrant module lock
# serializes guarded actions (reentrant because the decode path nests the
# columnar and Arrow guards in one thread).
#
# CAVEAT (ADVICE r3): the lock only serializes GUARDED actions. An unrelated
# query launched on the same SparkSession from another thread WHILE a guard
# is active silently runs with the small-batch override — a perf hazard
# (never correctness). Don't run other work concurrently on a session that
# is executing payload validations; Spark offers no per-query scan conf to
# scope this more tightly when the scan is assembled inside the engine.
_GUARD_LOCK = threading.RLock()


@contextmanager
def _scoped_conf(spark, conf_key: str, batch_rows: int | None):
    """Set a session conf for the duration of an action and restore it after,
    holding `_GUARD_LOCK` so concurrent guarded actions cannot interleave
    their set/restore pairs. ``batch_rows=None`` disables the override."""
    if not batch_rows:
        yield
        return
    with _GUARD_LOCK:
        conf = spark.conf
        old = conf.get(conf_key, None)
        conf.set(conf_key, str(int(batch_rows)))
        try:
            yield
        finally:
            if old is None:
                conf.unset(conf_key)
            else:
                conf.set(conf_key, old)


@contextmanager
def _scoped_in_filter_threshold(spark, n_keys: int):
    """Raise spark.sql.parquet.pushdown.inFilterThreshold to cover an
    ``isin(n_keys values)`` pushdown for the duration of the decode actions
    (no-op when the session value is already large enough), holding
    ``_GUARD_LOCK`` and restoring in ``finally`` — closes the r3 leak window
    where an exception between the bare ``conf.set`` and the old restore
    point (e.g. in snr_scores plan construction) left the raised threshold
    on the session (VERDICT r3 'What's wrong' #3)."""
    _TH = "spark.sql.parquet.pushdown.inFilterThreshold"
    with _GUARD_LOCK:
        conf = spark.conf
        old = conf.get(_TH, None)
        if old is not None and int(old) > n_keys:
            yield  # already large enough; don't touch
            return
        conf.set(_TH, str(n_keys + 1))
        try:
            yield
        finally:
            if old is None:
                conf.unset(_TH)
            else:
                conf.set(_TH, old)


def payload_batch_guard(spark, batch_rows: int | None = 256):
    """Bound the vectorized parquet reader's columnar batch by BYTES, not rows,
    for the duration of binary-column scan actions.

    Spark sizes parquet columnar batches in ROWS (default 4096). With ~64 KB
    audio payloads that is a ~256 MB on-heap batch per scan task; at >=16
    concurrent tasks the allocation churn collapses into GC thrash and the
    scan ANTI-scales (measured on a page-cache-warm 7.5 GB binary table:
    4->16 cores went 15.4 s -> 85 s at the default, 9.3 s -> 4.6 s at 256
    rows). 256 rows targets ~16 MB batches at 64 KB clips — small enough to
    stay GC-friendly at high parallelism, large enough to amortize per-batch
    overhead. Narrow metadata-only scans are NOT wrapped (smaller batches
    only add per-batch overhead there), which is why this is a scoped guard
    around payload-reading actions rather than a session-wide setting.
    ``batch_rows=None`` disables the override."""
    return _scoped_conf(spark, _CRBS, batch_rows)


def arrow_batch_guard(spark, batch_rows: int | None = 256):
    """Bound Arrow transfer batches by bytes for payload-decoding actions.
    Spark's default is 10,000 ROWS per Arrow batch; with ~64 KB payloads on
    BOTH sides of the decode join that is a ~1.3 GB batch per concurrent
    python worker — measured 3x slowdown from memory thrash (bench/scaling.py
    r2). 256 rows ~ 32 MB per batch. Same scoped set/restore contract as
    payload_batch_guard."""
    return _scoped_conf(spark, _ARB, batch_rows)


def hash_prescreen_join(dfd: DataFrame, ref: DataFrame, key: str,
                        bytes_col: str, hash_col: str | None,
                        ref_hash_col: str | None) -> DataFrame:
    """Shared hash-prescreen join for the SNR and payload-match expectations:
    returns (__k, __nn, __has_ref, __same) per dirty-side row.

    Hash slots per side: a stored hash column fills both slots; a computed
    side uses xxhash64+crc32 (96 combined bits). When exactly ONE side has a
    stored hash the computed side uses xxhash64 in BOTH slots — comparing
    crc32 against a stored xxhash64 would mismatch every row and turn the
    prescreen into a false-failure (payload match) or a full decode (SNR).
    Asymmetric use therefore requires the stored column to be
    ``xxhash64(bytes)`` (null iff the payload is null), which is the
    documented ingest contract.

    The probe side is repartitioned by key before the join. A sort-merge
    join needs that exchange anyway; when the reference is small enough to
    broadcast, it keeps the probe side from being a bare scan, which each
    branch of a one-action sampler plan (counts + first-k keys) would run
    again, hashing every payload twice. Spark reuses an exchange across
    branches, so the payloads are read and hashed once."""
    asym = bool(hash_col) != bool(ref_hash_col)

    def _side(src, a, b, stored):
        if stored:
            return src.select(F.col(key).alias("__k"),
                              F.col(stored).alias(a), F.col(stored).alias(b))
        nn = F.col(bytes_col).isNotNull()
        h1 = F.when(nn, F.xxhash64(F.col(bytes_col)))
        h2 = h1 if asym else F.when(nn, F.crc32(F.col(bytes_col)))
        return src.select(F.col(key).alias("__k"), h1.alias(a), h2.alias(b))

    return (_side(dfd, "__h1", "__h2", hash_col).repartition("__k")
            .join(_side(ref, "__rh1", "__rh2", ref_hash_col), "__k", "left")
            .select("__k", F.col("__h1").isNotNull().alias("__nn"),
                    F.col("__rh1").isNotNull().alias("__has_ref"),
                    ((F.col("__h1") == F.col("__rh1"))
                     & (F.col("__h2") == F.col("__rh2"))).alias("__same")))


def salted_repartition(df: DataFrame, hot_key: str, n_salts: int = 16,
                       num_partitions: int | None = None,
                       salt_cols: list[str] | None = None) -> DataFrame:
    """Break codec/sr_hz hot keys (fixture: 80% of rows are codec='wav') by
    salting before a key-partitioned stage — north_star skew handling.

    The salt hashes STABLE row content — ``salt_cols`` if given (use the
    row's unique key, e.g. clip_id), else every NON-BINARY column of the
    row — never ``monotonically_increasing_id()``, whose value depends on
    the physical scan layout: re-runs at different parallelism would
    partition differently, breaking checkpoint-resume determinism
    (VERDICT r3 #4). Identical rows hash to the same salt, which is fine:
    the goal is spreading a hot KEY's rows across ``n_salts`` buckets, and
    content-equal rows are interchangeable.

    Binary columns are excluded from the default salt: hashing a multi-KB
    audio payload per row just to pick a 4-bit salt is pure waste before
    the exchange (ADVICE r4). On tables where every non-binary column is
    shared by many rows, pass ``salt_cols=[unique key]`` explicitly."""
    if salt_cols is None:
        salt_cols = [f.name for f in df.schema.fields
                     if not isinstance(f.dataType, T.BinaryType)]
        if not salt_cols:  # degenerate all-binary table: hash everything
            salt_cols = df.columns
    cols = [F.col(c) for c in salt_cols]
    salt = F.abs(F.xxhash64(*cols)) % n_salts
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return (df.withColumn("__salt", salt)
            .repartition(parts, F.col(hot_key), F.col("__salt"))
            .drop("__salt"))


def snr_scores(
    df: DataFrame,
    ref: DataFrame,
    *,
    join_key: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    broadcast_reference: bool | None = None,
    strict_codecs: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """(key, __has_ref, __nn, __snr_db) per clip: equi-join on the (unique)
    clip key, then Arrow-batched decode in ``mapInPandas``.

    Why mapInPandas + explicit repartition rather than a scalar pandas UDF in
    a projection: Catalyst extracts python UDFs into an ArrowEvalPython node
    placed where the UDF's inputs are produced — i.e. BELOW any later
    repartition — and AQE coalesces the join's shuffle by *compressed* size,
    which for compressible payloads collapses the decode stage to one
    partition (measured: 16x parallelism lost). mapInPandas is a physical
    node that stays above the repartition, so the decode always runs at
    ``num_partitions`` (default 2x defaultParallelism) regardless of how well
    the payload compressed in the shuffle. Column pruning keeps the scan to
    (key, bytes, codec) on both sides.
    """
    key_type = df.schema[join_key].dataType.simpleString()
    r = ref.select(
        F.col(join_key),
        F.col(bytes_col).alias("__ref_bytes"),
        F.col(codec_col).alias("__ref_codec"))
    left = df.select(
        F.col(join_key), F.col(bytes_col).alias("__bytes"),
        F.col(codec_col).alias("__codec"))
    if broadcast_reference:
        r = F.broadcast(r)
    else:
        # co-partition BOTH sides by the join key: the sort-merge join reuses
        # these user-specified exchanges (no extra binary shuffle), and —
        # unlike the join's own shuffle — AQE does not coalesce them by
        # compressed size, so the decode stage keeps `parts` partitions even
        # when the payload compresses well in flight. Equivalent to bucketed
        # storage co-location at 100 TB scale (SURVEY.md §2.8).
        parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism * 2
        left = left.repartition(parts, F.col(join_key))
        r = r.repartition(parts, F.col(join_key))
    joined = left.join(r, on=join_key, how="left")

    def score(batches):
        for pdf in batches:
            n = len(pdf)
            out = np.empty(n, dtype=np.float64)
            payload, codec = pdf["__bytes"], pdf["__codec"]
            rbytes, rcodec = pdf["__ref_bytes"], pdf["__ref_codec"]
            for i in range(n):
                out[i] = snr_db(
                    decode_pcm(rbytes.iloc[i], rcodec.iloc[i], strict_codecs),
                    decode_pcm(payload.iloc[i], codec.iloc[i], strict_codecs))
            yield pd.DataFrame({
                join_key: pdf[join_key],
                "__has_ref": rbytes.notna(),
                "__nn": payload.notna(),
                "__snr_db": out,
            })

    return joined.mapInPandas(
        score,
        schema=f"{join_key} {key_type}, __has_ref boolean, __nn boolean, __snr_db double")


def run_snr_item(run, item, dfd: DataFrame, grow: dict):
    """Engine hook: expect_audio_snr_vs_reference_to_be_above.

    unexpected = rows with non-null bytes whose reference is missing OR whose
    decoded-PCM SNR < min_snr_db.

    Default path (``hash_prescreen=True``): shuffle HASHES, not audio. Both
    sides reduce JVM-side to (key, md5(bytes)) — a column-pruned scan, no
    python — and join on that. Bit-identical payloads have SNR = +inf by
    definition (noise energy is exactly 0), so only hash-mismatched pairs
    (plus missing-reference rows) need the expensive payload join + decode;
    in a validation setting those are the rare violations. At 10^12 rows this
    moves the shuffle from ~100 TB of audio to ~10^12 hashes. (xxhash64+crc32, 96 combined
    bits — collision odds ~2^-96 per pair, a documented tradeoff; byte-different encodings of
    the same audio fall through to the decode path and score correctly.)

    The default path runs two Spark actions and persists nothing:
    - prescreen: one action over the hash join (the run's sampler) returns
      the counts, up to ``max_pushdown_keys + 1`` mismatch keys and the
      first k missing-reference keys; Spark reuses the join's exchanges
      across the action's branches, so each input is scanned once;
    - decode (at most ``max_pushdown_keys`` mismatches): the mismatch keys
      reach both parquet scans as a pushed In filter and one ``collect()``
      of (key, snr) rows gives the bad-SNR count, the mean SNR and the
      first k bad keys on the driver.
    Beyond the cap no key list is in hand: the decode plans the prescreen
    join again (JVM hashing only, one more hash scan of both tables) and
    broadcasts its mismatch keys into semi-joins, and the counts and first
    k come from one sampler action over an exchange of the (key, snr) rows.
    That extra scan, paid only past the cap, is the price of never caching a
    row per input clip.

    ``hash_prescreen=False`` forces the full decode compare over every pair
    (snr_scores) — for re-encoded corpora where bytes always differ. Its
    counts, mean SNR and first k bad keys come from one sampler action over
    the decode's (key, nonnull, bad, snr) rows, tagged with their decode
    position, which the sampler puts under one exchange so the decode runs
    once.

    The binary column never enters the fused suite pass. Assumes the
    reference table has unique join keys (the golden twin).
    """
    kw = item.kwargs
    key = kw.get("join_key", "clip_id")
    ref = run.tables[kw["reference_table"]]
    min_snr = float(kw.get("min_snr_db", 30.0))
    bytes_col = kw.get("bytes_column", "bytes")
    codec_col = kw.get("codec_column", "codec")

    if not kw.get("hash_prescreen", True):
        scored = snr_scores(
            dfd, ref, join_key=key, bytes_col=bytes_col, codec_col=codec_col,
            broadcast_reference=kw.get("broadcast_reference"),
            strict_codecs=kw.get("strict_codecs", False),
            num_partitions=kw.get("num_partitions"))
        nn = F.col("__nn")
        proj = scored.select(
            F.col(key).alias("__k"), nn,
            (nn & (~F.col("__has_ref") | (F.col("__snr_db") < min_snr)))
            .alias("__bad"),
            F.when(nn & F.col("__has_ref"), F.col("__snr_db")).alias("__snr"),
            F.monotonically_increasing_id().alias("__mid"))
        with payload_batch_guard(dfd.sparkSession,
                                 kw.get("payload_batch_rows", 256)), \
             arrow_batch_guard(dfd.sparkSession,
                               kw.get("arrow_batch_rows", 256)):
            evr, agg = _keyed_map_evr(run, item, proj, nn, F.col("__bad"),
                                      F.avg("__snr").alias("mean_snr"))
        if evr.result:
            evr.result["details"] = {
                "mean_snr_db": _finite(agg["mean_snr"]), "min_snr_db": min_snr,
                "strategy": "full_decode"}
        return evr

    # --- hash-prescreen path (default) ---
    # xxhash64 + crc32 (96 combined bits): both are several-x faster than md5
    # on binary columns and stay JVM-side. xxhash64 hashes NULL input to the
    # seed (it never returns null), so null payloads must be masked explicitly
    # to keep the nonnull/missing semantics of the decode path.
    #
    # `hash_column` / `ref_hash_column`: tables that precompute the payload
    # hash at ingest skip the binary scan entirely — the prescreen becomes a
    # narrow-column join (at 100 TB the hash pass reads ~16 B/row instead of
    # the audio). The stored hash must be null iff the payload is null.
    spark = dfd.sparkSession
    hash_col = kw.get("hash_column")
    ref_hash_col = kw.get("ref_hash_column", hash_col)
    hj = hash_prescreen_join(dfd, ref, key, bytes_col, hash_col, ref_hash_col)
    nn = F.col("__nn")
    mismatch = nn & F.col("__has_ref") & ~F.coalesce(F.col("__same"), F.lit(False))
    no_ref_row = nn & ~F.col("__has_ref")
    cap = int(kw.get("max_pushdown_keys", 250))
    k = run._sample_limit()
    scan_rows = kw.get("payload_batch_rows", 256)
    # the prescreen action: counts, up to cap + 1 mismatch keys (enough to
    # tell whether they fit the pushdown) and the first k missing-reference
    # keys; bound the columnar batches by bytes only when the hashes are
    # computed from the binary column (stored-hash tables scan no binary)
    with payload_batch_guard(
            spark, None if (hash_col and ref_hash_col) else scan_rows):
        (mkeys, no_ref_keys), agg = run._collect_samples(
            hj, [(F.col("__k"), mismatch, cap + 1),
                 (F.col("__k"), no_ref_row, k)],
            aggs=[F.count(F.lit(1)).alias("element"),
                  F.count_if(nn).alias("nonnull"),
                  F.count_if(no_ref_row).alias("no_ref"),
                  F.count_if(mismatch).alias("mismatch")])
    element, nonnull = int(agg["element"]), int(agg["nonnull"])
    no_ref, n_mismatch = int(agg["no_ref"]), int(agg["mismatch"])

    bad_snr = 0
    snr_bad_keys: list = []
    mean_mismatch_snr = None
    if n_mismatch:
        # size the decode to the violation set: with n_mismatch rows the
        # default 2x-parallelism repartition spawns dozens of mostly-empty
        # Arrow python workers (measured: ~13s fixed overhead decoding 150
        # clips at 32 partitions). ~64 clips per decode task keeps workers
        # busy without over-spawning; never above parallelism.
        auto_parts = max(1, min(int(spark.sparkContext.defaultParallelism),
                                (n_mismatch + 63) // 64))
        parts = kw.get("num_partitions") or auto_parts

        def decode(sub, sub_ref):
            return snr_scores(
                sub, sub_ref, join_key=key, bytes_col=bytes_col,
                codec_col=codec_col,
                strict_codecs=kw.get("strict_codecs", False),
                num_partitions=parts).select(key, "__snr_db")

        with payload_batch_guard(spark, scan_rows), \
             arrow_batch_guard(spark, kw.get("arrow_batch_rows", 256)):
            if n_mismatch <= cap:
                # small violation set: filter with isin on the keys in hand
                # — the predicate reaches the parquet scan (PushedFilters)
                # so row-group stats skip almost all binary data, instead of
                # two full-table rescans feeding a semi-join.
                #
                # CRITICAL conf: Spark only translates In to a parquet
                # in-filter up to spark.sql.parquet.pushdown.
                # inFilterThreshold values (default 10); above that it
                # degrades to a min..max range filter, which on a
                # key-sorted table spans everything — the scan silently
                # reads the FULL binary column (measured: 30s vs <1s on a
                # cold 19 GB table). Raise the threshold to cover the key
                # set for the decode action; the guard restores it even if
                # plan construction below throws.
                # The max_pushdown_keys default (250) doubles as the safety
                # bound: parquet represents a pushed In as a NESTED Or
                # tree, and ~1000 values overflow the executor thread stack
                # (observed StackOverflowError) — beyond the cap the
                # broadcast semi-join below is both safe and scalable.
                with _scoped_in_filter_threshold(spark, len(mkeys)):
                    # at most cap rows: score them on the driver, in collect
                    # order (the first k bad keys are filter().limit(k)'s)
                    rows = decode(dfd.filter(F.col(key).isin(mkeys)),
                                  ref.filter(F.col(key).isin(mkeys))).collect()
                snrs = [r["__snr_db"] for r in rows]
                bad = [r[key] for r in rows if r["__snr_db"] < min_snr]
                bad_snr, snr_bad_keys = len(bad), bad[:k]
                if snrs:
                    mean_mismatch_snr = sum(snrs) / len(snrs)
            else:
                # the key set is the prescreen join's mismatch rows, planned
                # again inside the decode (JVM hashing only) and broadcast
                # so the big binary side never shuffles for the semi-join;
                # the decoded rows carry their position for the sampler
                mk = hj.filter(mismatch).select(F.col("__k").alias(key))
                scored = decode(dfd.join(F.broadcast(mk), key, "left_semi"),
                                ref.join(F.broadcast(mk), key, "left_semi"))
                bad_row = F.col("__snr_db") < min_snr
                (snr_bad_keys,), a2 = run._collect_samples(
                    scored.withColumn("__mid", F.monotonically_increasing_id()),
                    [(F.col(key), bad_row, k)],
                    aggs=[F.count_if(bad_row).alias("u"),
                          F.avg("__snr_db").alias("mean_snr")])
                bad_snr, mean_mismatch_snr = int(a2["u"]), a2["mean_snr"]

    unexpected = no_ref + bad_snr
    samples = snr_bad_keys + no_ref_keys[:k - len(snr_bad_keys)]
    evr = run._map_evr(item, element, nonnull, unexpected, samples)
    if evr.result:
        evr.result["details"] = {
            "min_snr_db": min_snr, "strategy": "hash_prescreen",
            "hash_mismatch_count": n_mismatch,
            "missing_reference_count": no_ref,
            "mean_mismatch_snr_db": _finite(mean_mismatch_snr)}
    return evr


def run_payload_item(run, item, dfd: DataFrame, grow: dict):
    """Engine hook: expect_audio_payload_to_match_reference — byte identity
    of the payload vs the reference twin, verified by hash equality
    (xxhash64+crc32, 96 combined bits; or a stored `hash_column`). A
    prescreen-ONLY invariant: never decodes, never shuffles audio — with
    `hash_column=` both scans are (key, 8-byte hash), zero binary read.
    Counts and the first k bad keys come from one Spark action over the
    prescreen join (the run's one sampler), nothing is persisted.

    unexpected = rows with a non-null payload whose reference row is
    missing OR whose payload hash differs. This is the engine's
    linearly-scalable integrity fast path (BASELINE.md reports its N→4N
    efficiency); byte-different re-encodings of identical audio need the
    SNR expectation instead."""
    kw = item.kwargs
    key = kw.get("join_key", "clip_id")
    bytes_col = kw.get("bytes_column", "bytes")
    ref = run.tables[kw["reference_table"]]
    hash_col = kw.get("hash_column")
    ref_hash_col = kw.get("ref_hash_column", hash_col)
    hj = hash_prescreen_join(dfd, ref, key, bytes_col, hash_col, ref_hash_col)
    nn = F.col("__nn")
    bad = nn & (~F.col("__has_ref") | ~F.coalesce(F.col("__same"), F.lit(False)))
    with payload_batch_guard(
            dfd.sparkSession,
            None if (hash_col and ref_hash_col)
            else kw.get("payload_batch_rows", 256)):
        evr, _ = _keyed_map_evr(run, item, hj, nn, bad)
    if evr.result:
        evr.result["details"] = {"strategy": "payload_hash_match",
                                 "hash_column": hash_col}
    return evr


def run_header_item(run, item, dfd: DataFrame, grow: dict):
    """Engine hook: expect_audio_header_to_match_metadata — RIFF header
    sample rate must equal the sr_hz metadata column; a null sr_hz is
    unexpected. Header-only parse (no PCM decode), single mapInPandas scan,
    no join; counts and the first k bad keys from one sampler action over
    the parse's rows, tagged with their scan position."""
    kw = item.kwargs
    key = kw.get("join_key", "clip_id")
    bytes_col = kw.get("bytes_column", "bytes")
    sr_col = kw.get("sr_column", "sr_hz")

    def check(batches):
        from ..pipeline.audio_features import wav_header_sr
        for pdf in batches:
            n = len(pdf)
            nn = pdf[bytes_col].notna()
            bad = np.zeros(n, dtype=bool)
            for i in range(n):
                if not nn.iloc[i]:
                    continue
                hdr = wav_header_sr(bytes(pdf[bytes_col].iloc[i]))
                # Arrow hands a nullable INT column with nulls over as
                # float64, its nulls as NaN
                meta = pdf[sr_col].iloc[i]
                bad[i] = hdr is None or pd.isna(meta) or int(hdr) != int(meta)
            yield pd.DataFrame({"__k": pdf[key], "__nn": nn, "__bad": bad})

    key_type = dfd.schema[key].dataType.simpleString()
    proj = (dfd.select(key, bytes_col, sr_col)
            .mapInPandas(check, schema=f"__k {key_type}, __nn boolean, __bad boolean")
            .withColumn("__mid", F.monotonically_increasing_id()))
    with payload_batch_guard(dfd.sparkSession,
                             kw.get("payload_batch_rows", 256)), \
         arrow_batch_guard(dfd.sparkSession,
                           kw.get("arrow_batch_rows", 256)):
        evr, _ = _keyed_map_evr(run, item, proj, F.col("__nn"), F.col("__bad"))
    return evr


def _keyed_map_evr(run, item, rows: DataFrame, nn: Column, bad: Column,
                   *extra: Column):
    """Score ``rows`` (one per input row, keyed ``__k``) as a map item from
    one sampler action: returns (the EVR from the element, nonnull and
    unexpected counts and the first k unexpected keys; the aggregate row,
    which also holds the ``extra`` aggregates)."""
    (samples,), agg = run._collect_samples(
        rows, [(F.col("__k"), bad, run._sample_limit())],
        aggs=[F.count(F.lit(1)).alias("element"),
              F.count_if(nn).alias("nonnull"),
              F.count_if(bad).alias("u"), *extra])
    return run._map_evr(item, int(agg["element"]), int(agg["nonnull"]),
                        int(agg["u"]), samples), agg


def _finite(v):
    if v is None:
        return None
    f = float(v)
    return f if np.isfinite(f) else None
