"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Spark-first design notes (100 TB posture):
* no driver-side loops and no cross joins — every candidate-pair
  generator is a shuffle on a *blocking key* (band hash / simhash
  block), which is the only thing that scales;
* shingle/signature math stays JVM-side (higher-order functions over
  arrays + xxhash64) so whole-stage codegen applies; numpy appears only
  in the simhash bit-fold, an Arrow-batched pandas UDF;
* verification (exact Jaccard / hamming) runs only on candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cpp_parquet_spark.pipeline.text import TOKEN_RE
from cpp_parquet_spark.session import drop_runtime_zip_finders

# deterministic MinHash parameters; Mersenne-31 keeps a*(s mod p)+b
# comfortably inside a signed 64-bit long (ANSI mode throws on overflow)
_MERSENNE = (1 << 31) - 1
_N_PERM = 32
_BANDS = 8  # 8 bands x 4 rows
_ROWS = _N_PERM // _BANDS


def _tokens(col: Column) -> Column:
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RE), 0)


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: groups with >1 doc, keeper = min id."""
    h = F.sha2(F.col(text_col), 256).alias("content_sha")
    return (
        df.select(F.col(id_col), h)
        .groupBy("content_sha")
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("keeper_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


def token_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact token-set Jaccard over all pairs — pytest-only O(n²)
    baseline for token_jaccard_pairs_lsh (the production/driver path,
    which blocks candidates by minhash bands first).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(_tokens(F.col(text_col))).alias("tok"),
    )
    a, b = toks.alias("a"), toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.tok"), F.col("b.tok")))
    union = F.size(F.array_union(F.col("a.tok"), F.col("b.tok")))
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(inter / F.greatest(union, F.lit(1)), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _shingle_hashes(toks: Column, k: int = 3) -> Column:
    """Hashes of token k-gram shingles, JVM-side.

    ``toks`` MUST be a materialized column reference (an attribute from
    a previous Project), not the token-extraction expression: the
    k-gram transform slices ``toks`` inside its lambda, and Catalyst
    re-evaluates a non-attribute subexpression there once PER ELEMENT —
    inlining the regexp token extraction made the shingle pass
    O(tokens x doc_len) per document (round-6 measured: minhash over
    sf0.1 documents 13-16 s, 1.3 s staged)."""
    n = F.size(toks)
    idxs = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idxs, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, k))))
    )


def minhash_signature(sh: Column, n_perm: int = _N_PERM) -> Column:
    """MinHash signature over a *materialized* shingle-hash column:
    sig_i = min over shingles of (a_i*h+b_i) mod p.

    Takes a column reference, not the shingle expression — inlining the
    shingle computation into all n_perm transforms makes Catalyst
    evaluate it n_perm times (measured 30x slowdown)."""

    def perm_min(a: int, b: int):
        # nb: the lambda must take exactly one arg (pyspark reads arity)
        def fn(s):
            return F.pmod(F.lit(a) * F.pmod(s, F.lit(_MERSENNE)) + F.lit(b), F.lit(_MERSENNE))

        return F.array_min(F.transform(sh, fn))

    parts = []
    for i in range(n_perm):
        a = (0x9E3779B9 * (i + 1)) % _MERSENNE or 1
        b = (0xC2B2AE3D * (i + 7)) % _MERSENNE
        parts.append(perm_min(a, b))
    return F.array(*parts)


def _band_hashes(sig, bands: int, rows: int) -> Column:
    """One xxhash64 per band over that band's signature rows."""
    return F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",", *[F.element_at(sig, i * rows + r + 1).cast("string") for r in range(rows)]
                )
            )
            for i in range(bands)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash + LSH banding: candidates from band-hash blocking, then
    signature-estimated Jaccard >= threshold.

    shingle → minhash → band → bucket-join: the shuffle key is the band
    hash, so work scales with bucket sizes, never n².
    """
    # No size(sh) > 0 guard: the shingle array is non-empty by
    # construction (sequence(1, greatest(n-k+1, 1)) always yields at
    # least one index), and Catalyst pushed the old vacuous filter below
    # the Project with the whole shingle expression inlined — re-running
    # the quadratic-inlined token extraction per row in the Filter AND
    # in the parquet DataFilters (round-6 plan audit).
    tokd = df.select(F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("toks"))
    shingled = tokd.select(
        "id",
        _shingle_hashes(F.col("toks")).alias("sh"),
    )
    sigs = shingled.select("id", minhash_signature(F.col("sh")).alias("sig"))

    bands = sigs.select(
        "id", "sig", F.posexplode(_band_hashes("sig", _BANDS, _ROWS)).alias("band", "bh")
    )
    # shuffle-hash self-join (guide §3.1): the broadcast build side would
    # re-execute the whole signature subtree per run (measured 1.9-12.8 s
    # vs 1.2-1.6 s shuffled on the simhash twin); shuffling the banded
    # rows lets both sides share one exchange shape
    a, b = bands.alias("a"), bands.alias("b").hint("shuffle_hash")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)) / F.size("sig_a")
    return cand.select("id_a", "id_b", F.round(est, 4).alias("est_jaccard")).filter(
        F.col("est_jaccard") >= threshold
    )


def token_jaccard_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 16,
) -> DataFrame:
    """Exact-threshold token Jaccard at scale: minhash band blocking
    generates candidates (the shuffle key is the band hash — never an
    all-pairs join), then *exact* token-set Jaccard verifies each
    candidate, so the output equals token_jaccard_pairs' wherever the
    banding recalls the pair.

    The minhash runs over single-token hashes (k=1 shingles), i.e. it
    estimates exactly the token-set Jaccard being verified.  With the
    32 permutations split as 16 bands × 2 rows, a pair at the 0.8
    threshold is missed with probability (1 - 0.8²)^16 ≈ 8e-8; pairs
    above it even less often.  Output schema matches the exact
    baseline — (id_a, id_b, jaccard) — so the same SQL oracle binds.
    """
    rows = _N_PERM // bands
    toks = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(_tokens(F.col(text_col))).alias("tok"),
    )
    sigs = (
        toks.filter(F.size("tok") > 0)
        .select("id", F.transform("tok", lambda t: F.xxhash64(t)).alias("sh"))
        .select("id", minhash_signature(F.col("sh")).alias("sig"))
    )
    banded = sigs.select("id", F.posexplode(_band_hashes("sig", bands, rows)).alias("band", "bh"))
    a, b = banded.alias("a"), banded.alias("b").hint("shuffle_hash")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    ta = toks.select(F.col("id").alias("id_a"), F.col("tok").alias("tok_a"))
    tb = toks.select(F.col("id").alias("id_b"), F.col("tok").alias("tok_b"))
    verified = cand.join(ta, "id_a").join(tb, "id_b")
    inter = F.size(F.array_intersect(F.col("tok_a"), F.col("tok_b")))
    union = F.size(F.array_union(F.col("tok_a"), F.col("tok_b")))
    return verified.select(
        "id_a",
        "id_b",
        F.round(inter / F.greatest(union, F.lit(1)), 4).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def simhash_bits(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document (Arrow-batched numpy bit fold)."""
    from pyspark.sql.pandas.functions import pandas_udf

    hashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(_tokens(F.col(text_col)), lambda t: F.xxhash64(t)).alias("th"),
    )

    @pandas_udf("long")
    def fold(th_series):
        import numpy as np
        import pandas as pd

        drop_runtime_zip_finders()
        n = len(th_series)
        out = np.zeros(n, dtype=np.int64)
        if n == 0:
            return pd.Series(out)
        # batch-wide fold: flatten every doc's hash list, segment-sum the
        # bit matrix with one reduceat — no per-document bit loop
        lens = np.fromiter(
            (0 if a is None else len(a) for a in th_series), dtype=np.int64, count=n
        )
        total = int(lens.sum())
        if total == 0:
            return pd.Series(out)
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in th_series if a is not None and len(a)]
        ).view(np.uint64)
        # [total, 64] uint8 bit matrix via unpackbits (little-endian:
        # column j = bit j).  The r5 form ((flat[:, None] >> arange(64))
        # & 1).astype(int32) materialized a [total, 64] uint64 broadcast
        # (8 B/bit) plus an int32 copy — ~12x the memory traffic of the
        # 1 B/bit unpackbits matrix; reduceat accumulates straight into
        # int64 so no widened copy is ever built (round-6, guide §5).
        bits = np.unpackbits(
            flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
        )  # [total, 64] uint8
        nz = lens > 0
        counts = lens[nz]
        starts = np.cumsum(counts) - counts
        ones = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)  # [n_nz, 64]
        majority = (2 * ones) > counts[:, None]  # acc>0 ⇔ ones > len/2
        sim = (majority.astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(axis=1)
        out[nz] = sim.astype(np.int64)
        return pd.Series(out)

    return hashed.select("id", fold("th").alias("simhash"))


def simhash_pairs(df: DataFrame, max_hamming: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= k via 4x16-bit block
    blocking (pigeonhole: hamming<=3 ⇒ one of 4 blocks equal)."""
    sims = simhash_bits(df, text_col, id_col)
    def _signed64(v: int) -> int:
        return v - (1 << 64) if v >= (1 << 63) else v

    blocks = sims.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.col("simhash").bitwiseAND(F.lit(_signed64(0xFFFF << (16 * i)))).cast("long")
                    for i in range(4)
                ]
            )
        ).alias("block", "bv"),
    )
    a, b = blocks.alias("a"), blocks.alias("b").hint("shuffle_hash")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, (F.col("a.block") == F.col("b.block")) & (F.col("a.bv") == F.col("b.bv")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def md5_hash60(col: Column) -> Column:
    """60-bit integer hash from the leading 15 hex chars of md5 —
    engine-portable (DuckDB: CAST('0x'||substring(md5(s),1,15) AS
    BIGINT) computes the identical value), used by the oracle twin of
    the winnowing query; xxhash64 stays the production default."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    hash_fn=None,
) -> DataFrame:
    """Winnowing document fingerprints: min rolling k-gram hash per
    window (Schleimer et al.) — JVM-side over token-hash arrays.

    ``hash_fn`` (Column -> Column) defaults to xxhash64; pass
    :func:`md5_hash60` for a cross-engine-checkable variant."""
    if hash_fn is None:
        hash_fn = F.xxhash64
    # Each stage materializes its array as a column before the next
    # stage slices it inside a lambda: Catalyst re-evaluates non-
    # attribute subexpressions inside lambda bodies once PER ELEMENT,
    # so the fully-inlined form re-ran the regexp token extraction for
    # every k-gram index — O(tokens x doc_len) per document (round-6
    # measured: 256 s over sf0.1 documents, 2-3 s staged; the separate
    # Projects survive CollapseProject because each array is referenced
    # more than once downstream).
    tokd = df.select(F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("toks"))
    khd = tokd.select(
        "id",
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("toks") - (k - 1), F.lit(1))),
            lambda i: hash_fn(F.concat_ws(" ", F.slice(F.col("toks"), i, k))),
        ).alias("kh"),
    )
    wind = khd.select(
        "id",
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("kh") - (window - 1), F.lit(1))),
            lambda i: F.array_min(F.slice(F.col("kh"), i, window)),
        ).alias("wins"),
    )
    return wind.select("id", F.array_distinct(F.col("wins")).alias("fingerprints"))


def substring_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_len: int = 64,
) -> DataFrame:
    """Exact substring-duplication spans (the exact-dedup primitive of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): every fixed-length character span starting at a WORD
    BOUNDARY whose hash appears in MORE THAN ONE document, rolled up
    per document.

    Anchoring at content-defined positions (word starts) instead of a
    fixed stride makes detection alignment-invariant: two copies of the
    same passage produce identical span sets no matter where the
    passage sits in each document — a fixed stride only matches copies
    aligned mod stride (the winnowing/CDC insight).

    Entirely JVM-side (filtered sequence → explode → substring → md5):
    no Python in the data path.  The word-boundary filter runs INSIDE
    the array expression, before Generate — the explode emits one row
    per word start (~len/6), never one per character; only
    (id, pos, 16-byte hash) rows reach the two blocking-key shuffles
    (span-hash groupBy, per-doc rollup).  Never all-pairs.

    Returns (id, n_dup_spans, first_dup_pos) for documents owning at
    least one cross-document duplicated span.
    """
    # word boundary: document start, or the char before the span is a
    # space (substring is 1-based: position `pos` = 0-based pos-1)
    word_starts = F.expr(
        f"filter(sequence(0, length({text_col}) - {span_len}), "
        f"p -> p = 0 OR substring({text_col}, p, 1) = ' ')"
    )
    spans = (
        df.filter(F.length(text_col) >= span_len)
        .select(
            F.col(id_col).alias("id"),
            F.explode(word_starts).alias("pos"),
            F.col(text_col),
        )
        .select(
            "id",
            "pos",
            F.md5(F.expr(f"substring({text_col}, pos + 1, {span_len})")).alias("h"),
        )
    )
    dup_h = (
        spans.groupBy("h")
        .agg(F.countDistinct("id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("h")
    )
    return (
        spans.join(dup_h, "h")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_dup_spans"),
            F.min("pos").cast("long").alias("first_dup_pos"),
        )
    )
