"""Stage 1 — per-conversation signatures.

The reference enriches records with progressively stronger signatures
(sampled rolling checksum -> SimHash/fingerprint -> full Blake3; reference
``src/pipeline/streaming_quickcheck.rs:162-177``,
``src/pipeline/streaming_statistical.rs:183-224``, ``src/pipeline/hash.rs:24-43``).
Our equivalents:

  - exact digests: ``xxhash64(canon_text)`` (fast path) + ``md5`` (portable,
    cross-engine-checkable) — analog of the full Blake3 checksum. JVM-side.
  - MinHash signature: word n-gram shingle hashes -> per-permutation min of
    a multiply-shift scramble — replaces the reference's SimHash (H8/H9)
    with the standard MinHash construction whose collision probability equals
    Jaccard similarity, which is what LSH blocking needs. One numpy kernel
    per Arrow batch (``make_signature_udf``).

Both are a single projection over the canonical table: no shuffle. MinHash
cost is O(num_hashes x shingles) per row; shingle count is bounded because
canon_text is capped at canonicalization.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from translink.config import LinkConfig

#: Tokenization used for shingling and token-Jaccard scoring: split on runs
#: of ASCII non-alphanumeric characters ONLY, drop empties, lowercase.
#: Non-ASCII code points are token characters — the previous
#: "[^a-zA-Z0-9]+" class treated EVERY non-Latin character as a separator,
#: reducing all CJK/Arabic/emoji text to zero tokens, whose empty shingle
#: sets then looked maximally similar to each other (false merges between
#: unrelated non-English conversations). CJK still tokenizes coarsely
#: (runs between ASCII punctuation/whitespace), which is weak but SAFE:
#: distinct texts produce distinct tokens. The explicit \\x ranges parse
#: identically in Python re, Java regex, and RE2 (DuckDB); embedding in a
#: Spark SQL string needs TOKENIZE_PATTERN_SQL (the literal parser eats
#: single backslashes).
TOKENIZE_PATTERN = r"[\x00-\x2f\x3a-\x40\x5b-\x60\x7b-\x7f]+"
TOKENIZE_PATTERN_SQL = TOKENIZE_PATTERN.replace("\\", "\\\\")


def tokens_expr(col: str = "canon_text"):
    """Distinct lowercase word tokens of a text column (JVM expression)."""
    return F.array_remove(
        F.array_distinct(F.split(F.lower(F.col(col)), TOKENIZE_PATTERN)), ""
    )


def shingles_expr(col: str = "canon_text", n: int = 3):
    """Word n-gram shingle array of a text column (JVM expression).

    Keeps duplicates out (distinct) so MinHash estimates set-Jaccard. For
    texts shorter than ``n`` tokens the whole token sequence is one shingle.

    The token array is bound ONCE, as the lambda variable of a one-element
    ``transform``: written inline, ``split(lower(text))`` would re-tokenize
    the whole text at every one of its T-n+1 shingle positions (O(T^2)
    interpreted work per row). The string form is kept for the callers that
    must stay JVM-only and ANSI-SQL reproducible (meta-blocking keys, the
    array-free ``token_jaccard_expr`` fallback, the ``textops`` expression
    variants); per-record hot paths use the hashed ``make_shingle_udf``.
    """
    toks = f"array_remove(split(lower({col}), '{TOKENIZE_PATTERN_SQL}'), '')"
    return F.expr(
        f"array_remove(array_distinct(element_at(transform(array({toks}), "
        f"t -> case when size(t) <= {n} "
        f"then array(array_join(t, ' ')) "
        f"else transform(sequence(0, size(t) - {n}), "
        f"i -> array_join(slice(t, i + 1, {n}), ' ')) end), 1)), '')"
    )


def with_exact_digest(canonical: DataFrame) -> DataFrame:
    """Add exact-duplicate digests of the canonical text.

    ``digest``     — xxhash64, 64-bit, the grouping key for the exact path
                     (analog of Blake3 full checksum, reference
                     src/pipeline/hash.rs:24-43; xxhash64 because it is
                     JVM-native and codegen-friendly).
    ``digest_md5`` — md5 hex, portable across engines; also the analog of the
                     16-byte Blake3 fingerprint
                     (src/pipeline/streaming_statistical.rs:215-224).
    """
    return canonical.withColumns({
        "digest": F.xxhash64("canon_text"),
        "digest_md5": F.md5("canon_text"),
    })


def _shingle_consts(n: int, seed: int):
    """Odd multiplier per n-gram position (wrapped-int64 combination)."""
    rng = np.random.default_rng(seed ^ 0x5EED)
    return ((rng.integers(1, 1 << 62, size=n).astype(np.int64))
            << np.int64(1)) | np.int64(1)


def _minhash_consts(k: int, seed: int):
    """(A, B) multiply-shift permutation constants, odd A."""
    rng = np.random.default_rng(seed)
    A = ((rng.integers(1, 1 << 62, size=k).astype(np.int64))
         << np.int64(1)) | np.int64(1)
    B = rng.integers(0, 1 << 62, size=k).astype(np.int64)
    return A, B


def _shingle_rows(texts, pat, C, n: int) -> list:
    """Per-row deduped word-n-gram shingle hashes for one Arrow batch.

    The ONE implementation of the batch tokenize -> hash -> n-gram-combine
    -> dedup sequence (shared by the signature, shingle and dedup cascade
    kernels): the hash family feeding MinHash, LSH bands, and the scorer's
    recomputed pair-side shingles must be bit-identical, so it must not be
    duplicated.
    Tokenizes with the compiled ``pat`` (C regex), hashes every token of
    the batch in one C-vectorized pass (pandas siphash, deterministic fixed
    key), combines n-grams numerically (s_i = C1*h_i + C2*h_{i+1} + ...,
    wrapped int64), and dedups per row. Rows with fewer than ``n`` tokens
    contribute one truncated shingle (same semantics as ``shingles_expr``);
    empty rows give an empty array.
    """
    tok_lists = [
        [w for w in pat.split((t or "").lower()) if w] for t in texts
    ]
    tlens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64,
                        count=len(tok_lists))
    total = int(tlens.sum())
    flat = np.empty(total, dtype=object)
    pos = 0
    for toks in tok_lists:
        flat[pos: pos + len(toks)] = toks
        pos += len(toks)
    TH = (pd.util.hash_array(flat).view(np.int64)
          if total else np.empty(0, np.int64))
    rows_sh: list = []
    pos = 0
    for ln in tlens:
        h = TH[pos: pos + ln]
        pos += ln
        if ln == 0:
            rows_sh.append(np.empty(0, np.int64))
        elif ln <= n:
            rows_sh.append(np.array(
                [int((C[:ln] * h).sum(dtype=np.int64))], dtype=np.int64))
        else:
            m = int(ln) - n + 1
            s = np.zeros(m, dtype=np.int64)
            for j in range(n):
                s += C[j] * h[j: j + m]
            rows_sh.append(np.unique(s))
    return rows_sh


def _minhash_matrix(rows, A, B, k: int) -> np.ndarray:
    """(len(rows), k) int64 MinHash matrix over per-row hash arrays.

    The ONE reduceat-minhash implementation (shared by the signature and
    minhash kernels). Empty rows get the sentinel signature [0]*k.
    Cache-blocked: ~100k shingles per chunk so the k permutation passes
    read L2-resident data — the naive loop streams the whole batch from
    DRAM k times and saturates memory bandwidth (the stage then stops
    scaling with cores).
    """
    lens = np.fromiter((len(s) for s in rows), dtype=np.int64,
                       count=len(rows))
    nonempty = lens > 0
    mh = np.zeros((len(rows), k), dtype=np.int64)
    if not nonempty.any():
        return mh
    H = np.concatenate([s for s in rows if len(s)])
    ne_lens = lens[nonempty]
    starts = np.zeros(len(ne_lens), dtype=np.int64)
    np.cumsum(ne_lens[:-1], out=starts[1:])
    sub = np.empty((len(ne_lens), k), dtype=np.int64)
    CHUNK = 100_000
    n_rows_ne = len(ne_lens)
    r0 = 0
    while r0 < n_rows_ne:
        r1 = r0
        s0 = int(starts[r0])
        end = s0
        while r1 < n_rows_ne and (end - s0) < CHUNK:
            end = int(starts[r1] + ne_lens[r1])
            r1 += 1
        Hc = H[s0:end]
        st = starts[r0:r1] - s0
        for i in range(k):
            sub[r0:r1, i] = np.minimum.reduceat(A[i] * Hc + B[i], st)
        r0 = r1
    mh[nonempty] = sub
    return mh


def make_signature_udf(k: int, n: int, seed: int = 42, emit_shingles: bool = True):
    """Arrow-batched signature kernel: canonical text -> (shingle_hashes,
    minhash), vectorized across the batch.

    ``emit_shingles=False`` drops shingle_hashes from the OUTPUT schema:
    callers that only need the signatures (the pipeline's signed stage —
    survivors recompute shingles pair-side) skip transferring hundreds of
    longs per row back over Arrow, a pure memory-bandwidth saving.

    Everything per-token/per-shingle happens here, NOT in SQL expressions:
    even a single-level ``transform(tokens, t -> xxhash64(t))`` runs
    interpreted (~5us/token — 47M tokens at bench scale = 30s+), while
    ``_shingle_rows`` + ``_minhash_matrix`` (the shared batch kernels) run
    one C-vectorized hash pass and one cache-blocked ``minimum.reduceat``
    pass per permutation.

    Rows with fewer than n tokens contribute one truncated shingle (same
    semantics as shingles_expr); empty rows get sentinel minhash [0]*k.
    """
    import re

    C = _shingle_consts(n, seed)
    A, B = _minhash_consts(k, seed)
    pat = re.compile(TOKENIZE_PATTERN)

    from pyspark.sql.types import StructField, StructType

    fields = [
        StructField("minhash", ArrayType(LongType()), False),
        # byte-lane sketch: one byte per position-scrambled signature
        # component, packed 8 per long (k/8 longs total). Two sketches'
        # per-lane agreement estimates positional MinHash agreement with a
        # +1/256 false-agreement bias per non-matching component — strictly
        # CONSERVATIVE for prefiltering (only ever passes more pairs), at
        # 1/8 the bytes of the full tagged signature and compared with pure
        # codegen XOR + zero-byte counting instead of allocating array
        # intersections.
        StructField("minhash_sketch", ArrayType(LongType()), False),
    ]
    if emit_shingles:
        fields.insert(0, StructField("shingle_hashes", ArrayType(LongType()), False))
    out_type = StructType(fields)
    TAG_A = np.int64(-8056529492539294021)  # odd multiplier
    TAG_I = (np.arange(k, dtype=np.int64) + np.int64(1)) * np.int64(5871781006564002453)

    @pandas_udf(out_type)
    def signature_kernel(texts: pd.Series) -> pd.DataFrame:
        rows_sh = _shingle_rows(texts, pat, C, n)
        mh = _minhash_matrix(rows_sh, A, B, k)
        tagged = mh * TAG_A + TAG_I  # wraps mod 2^64; bijective per position
        # pack the low byte of each position-scrambled component, 8 per long
        lanes = (tagged.view(np.uint64) & np.uint64(0xFF)).reshape(len(mh), k // 8, 8)
        shifts = np.uint64(8) * np.arange(8, dtype=np.uint64)
        sketch = np.bitwise_or.reduce(lanes << shifts, axis=2).view(np.int64)
        # numpy arrays go straight to Arrow (list-of-ndarray fast path);
        # .tolist() boxing would cost more than the whole minhash computation
        out = {"minhash": list(mh), "minhash_sketch": list(sketch)}
        if emit_shingles:
            out = {"shingle_hashes": rows_sh, **out}
        return pd.DataFrame(out)

    return signature_kernel


def shingler(n: int, seed: int = 42):
    """texts -> per-row deduped word-n-gram shingle-hash arrays: the body of
    the shingle kernel as a plain batch function, for kernels that shingle
    inside a larger Arrow pass (``scoring.score_pairs(cascade=True)``)."""
    import re

    C = _shingle_consts(n, seed)
    pat = re.compile(TOKENIZE_PATTERN)
    return lambda texts: _shingle_rows(texts, pat, C, n)


def make_shingle_udf(n: int, seed: int = 42):
    """Arrow-batched hashed-shingle kernel: text -> deduped array<bigint> of
    word n-gram shingle hashes. The hot-path replacement for the interpreted
    nested-HOF ``shingles_expr`` + per-shingle hash (measured 14.4s vs ~1s at
    sf0.1, PLANS.md): one C-vectorized token-hash pass per Arrow batch, then
    numeric n-gram combination. Same tokenization and shingle semantics as
    ``shingles_expr`` (short texts collapse to one truncated shingle; empty
    rows give an empty array), but shingles are represented by 64-bit hashes
    — set sizes (and therefore Jaccard ratios) are identical modulo
    negligible 64-bit collisions.

    Callers: ``linkage.prep_corpus`` (so every linkage front end:
    ``run_link_pipeline``, ``streaming.link`` and the driver's linkage and
    dedup-pair queries) and the ``textops`` near-dup lanes under
    ``method='arrow'``. The dedup cascade kernel uses ``shingler``."""
    shingle = shingler(n, seed)

    @pandas_udf(ArrayType(LongType()))
    def shingle_kernel(texts: pd.Series) -> pd.Series:
        return pd.Series(shingle(texts))

    return shingle_kernel


def with_minhash(
    canonical: DataFrame,
    cfg: LinkConfig | None = None,
    repartition: int | None = None,
    include_shingles: bool = True,
) -> DataFrame:
    """Add ``shingle_hashes: array<bigint>`` (each shingle hashed once;
    omitted with ``include_shingles=False``), ``minhash: array<bigint>``
    and ``minhash_sketch`` signature columns.

    ``repartition``: MinHash is CPU-heavy but byte-light; upstream AQE
    coalescing (or a single small parquet file) can leave it on 1-2
    partitions. Pass the session's parallelism to force even spread — at any
    scale, signature cost is per-row, so partition count should track cores,
    not bytes.
    """
    cfg = cfg or LinkConfig()
    if repartition:
        canonical = canonical.repartition(repartition)
    k = cfg.num_hashes
    # tokenization, token hashing, shingle construction, dedup and the
    # k-permutation minhash all run in ONE numpy kernel per Arrow batch
    # (even single-level lambda expressions are interpreted JVM-side and
    # lose to the kernel ~30:1 at corpus scale; see PLANS.md)
    sig = make_signature_udf(k, cfg.shingle_size,
                             emit_shingles=include_shingles)
    out = canonical.withColumn("_sig", sig(F.col("canon_text")))
    if include_shingles:
        out = out.withColumn("shingle_hashes", F.col("_sig.shingle_hashes"))
    return (
        out
        .withColumn("minhash", F.col("_sig.minhash"))
        .withColumn("minhash_sketch", F.col("_sig.minhash_sketch"))
        .drop("_sig")
    )


def minhash_jaccard_expr(a: str = "a.minhash", b: str = "b.minhash"):
    """Estimated Jaccard similarity from two MinHash signatures: fraction of
    agreeing components. JVM expression; used to pre-filter LSH candidates."""
    return F.expr(
        f"size(filter(zip_with({a}, {b}, (x, y) -> x = y), v -> v)) / size({a})"
    )
