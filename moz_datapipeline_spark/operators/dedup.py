"""Deduplication operators for training-data pipelines.

Designed for 100 TB document corpora: every method is
candidate-generation → pair-verify, never an all-pairs cross join.

- ``exact_dedup``        — hash-groupBy on normalized content; one
  shuffle on a 16-byte key, keeps min(doc_id) deterministically.
- ``minhash_signatures`` / ``minhash_lsh_dedup`` — shingle → minhash →
  band-bucket join. Permutations are the classic ``(a·h + b) mod p``
  family over xxhash64 shingle hashes — fully deterministic, computed
  with array HOFs (no UDF).
- ``simhash``            — 64-bit simhash over token hashes via bit-vote
  aggregation in array space.
- ``ngram_jaccard_pairs`` — verify candidate pairs with exact token/
  shingle Jaccard using array_intersect/array_union sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from moz_datapipeline_spark.iterate import owned

# 31-bit Mersenne prime: keeps a*h+b < 2^62, safe under ANSI long arithmetic
_MERSENNE_P = (1 << 31) - 1


def _portable_hash(col: Column) -> Column:
    """Engine-portable 60-bit token hash: first 15 hex digits of md5.

    Replaces xxhash64 so the minhash/simhash pipelines are reproducible
    on any engine with md5 (the DuckDB oracle replays them exactly);
    md5 costs more CPU than xxhash64 but the hash is a small fraction
    of the dedup pipeline.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _token_hash(col: Column, portable: bool) -> Column:
    """Token hash: xxhash64 (the DEFAULT production fast path — ~2×
    less hash CPU, JVM-native) or portable md5 (oracle-replayable on
    any engine; opt in with ``portable_hash=True`` when a non-Spark
    engine must reproduce bucket assignments bit-for-bit). Both feed
    the same mod-p pipeline, so flipping the flag changes WHICH pairs
    become candidates, never the downstream verification semantics
    (``test_dedup_fastpath`` pins that verified outputs agree)."""
    if portable:
        return _portable_hash(col)
    return F.xxhash64(col)


def _normalized(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One survivor per distinct normalized text: (content_hash, keep_id, n_dups)."""
    h = F.md5(_normalized(F.col(text_col)))
    return (
        df.select(h.alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def shingles(text: Column | str, k: int = 3) -> Column:
    """Array of k-token shingle strings (whitespace tokens, lowercased)."""
    t = F.col(text) if isinstance(text, str) else text
    toks = F.split(_normalized(t), " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n >= k, F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " ")
    )).otherwise(F.array(F.array_join(toks, " ")))


def _minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family."""
    params = []
    state = seed
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (_MERSENNE_P - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _MERSENNE_P
        params.append((a, b))
    return params


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_k: int = 3,
    portable_hash: bool = False,
) -> DataFrame:
    """(id, signature array<long>) — min over shingles of (a·h+b) mod p per hash.

    Plan shape: explode shingle hashes to narrow (id, h) rows ONCE, then
    compute all permutation minima as aggregate expressions of a single
    groupBy(id) — one hash-agg pass with map-side partial aggregation.
    (The obvious formulation — num_hashes array HOFs over a shingle
    column — lets Catalyst's projection collapse inline the shingle
    string-building into every one of the 32 columns: 32× the work.)

    Docs whose text produces no shingles (empty text) are absent from
    the output.
    """
    from .spread import spread_small_scan

    df = spread_small_scan(df, id_col)
    # Shingle hashes WITHOUT building shingle strings: hash each token
    # once (O(n)), then combine k consecutive token hashes with a rolling
    # polynomial via zip_with (O(n) total). The string formulation
    # (slice+array_join per shingle) is O(n·k) string builds per doc and
    # benchmarked ~20× slower.
    toks = F.split(_normalized(F.col(text_col)), " ")
    th = F.transform(
        toks, lambda t: F.pmod(_token_hash(t, portable_hash), F.lit(_MERSENNE_P))
    )
    n = F.size(th)
    combined = th
    for off in range(1, shingle_k):
        # combine with the token-hash array shifted by `off`
        shifted = F.slice(th, off + 1, F.greatest(n - off, F.lit(0)))
        head = F.slice(combined, 1, F.greatest(n - off, F.lit(0)))
        combined = F.zip_with(
            head,
            shifted,
            # c*1000003 + h mod p: products stay < 2^51, ANSI-safe
            lambda c, h: F.pmod(c * F.lit(1000003) + h, F.lit(_MERSENNE_P)),
        )
    exploded = df.select(F.col(id_col), F.explode(combined).alias("_h"))
    aggs = [
        F.min(F.pmod(F.col("_h") * F.lit(a) + F.lit(b), F.lit(_MERSENNE_P))).alias(
            f"mh_{i}"
        )
        for i, (a, b) in enumerate(_minhash_params(num_hashes))
    ]
    sigs = exploded.groupBy(id_col).agg(*aggs)
    return sigs.select(
        id_col, F.array(*[f"mh_{i}" for i in range(num_hashes)]).alias("signature")
    )


def band_hashes(
    sigs: DataFrame,
    bands: int = 8,
    id_col: str = "doc_id",
    portable_hash: bool = False,
) -> DataFrame:
    """(id, band_idx, band_hash): the signature split into ``bands``
    contiguous slices, each digested to one bucket key.  Shared by the
    batch LSH self-join and the incremental store join so both bucket
    identically.  Digest: md5 (engine-portable) or xxhash64 (fast)."""
    return sigs.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: (F.md5 if portable_hash else F.xxhash64)(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(
                                F.col("signature"),
                                b * (F.size(F.col("signature")) / bands).cast("int") + 1,
                                (F.size(F.col("signature")) / bands).cast("int"),
                            ),
                            lambda x: x.cast("string"),
                        ),
                    )
                ).cast("string"),
            )
        ).alias("band_idx", "band_hash"),
    )


def minhash_lsh_candidates(
    sigs: DataFrame,
    bands: int = 8,
    id_col: str = "doc_id",
    portable_hash: bool = False,
) -> DataFrame:
    """Band the signature, hash each band, bucket-join → candidate pairs.

    The join is an equi join on (band_idx, band_hash) — co-located by
    the shuffle, skew-split by AQE. Output: (id_a < id_b) pairs.

    The signature table is materialized first (a local checkpoint):
    both sides of the self-join would otherwise recompute the full
    signature aggregation (alias-only branches defeat exchange reuse).
    Signatures are narrow (id + hashes) so the blocks are cheap even at
    corpus scale, and owned by the returned frame (``iterate.owned``).
    """
    # localCheckpoint, not .cache(): the candidate-pair plan reads the
    # signature frame, so the operator could never unpersist it (the
    # bench's strict leak assert fails exactly that).  Not
    # checkpoint_sever: one-shot self-joins keep origin statistics so
    # broadcast decisions survive (see semantic_dedup).
    sigs = sigs.localCheckpoint(eager=True)
    banded = band_hashes(sigs, bands, id_col, portable_hash)
    a = banded.alias("a")
    b = banded.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return owned(out, sigs)


def prefix_bucket_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_words: int = 4,
    max_bucket_width: int = 64,
    stats: dict | None = None,
) -> DataFrame:
    """Candidate pairs bucketed by the first ``prefix_words`` words,
    with a HOT-BUCKET CAP: buckets wider than ``max_bucket_width`` are
    dropped entirely before the self-join.

    The prefix scheme is a cheap demo candidate generator (the
    production path is ``minhash_lsh_candidates``); its failure mode is
    boilerplate-heavy corpora — a million documents starting
    "copyright all rights reserved…" share one bucket and the pair
    volume goes quadratic in its width.  The cap turns that into a
    bounded, observable recall loss instead of a runaway join: pair
    volume is ≤ Σ min(width, cap)² over buckets.

    ``stats``, when a dict, receives ``dropped_buckets`` and
    ``dropped_rows`` (one aggregate job over the bucket widths — the
    loud count; without it the cap is silent by design, since plan
    construction runs no jobs).

    Returns (id_a < id_b) pairs.
    """
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " "
    )
    docs = df.select(
        F.col(id_col),
        F.array_join(F.slice(toks, 1, prefix_words), " ").alias("bucket"),
    )
    widths = docs.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bw"))
    if stats is not None:
        agg = widths.agg(
            F.sum(
                (F.col("_bw") > max_bucket_width).cast("long")
            ).alias("b"),
            F.sum(
                F.when(
                    F.col("_bw") > max_bucket_width, F.col("_bw")
                ).otherwise(0)
            ).alias("r"),
        ).head()
        stats["dropped_buckets"] = int(agg["b"] or 0)
        stats["dropped_rows"] = int(agg["r"] or 0)
    kept = docs.join(
        widths.filter(F.col("_bw") <= max_bucket_width), "bucket"
    ).drop("_bw")
    a = kept.select(F.col(id_col).alias("id_a"), "bucket")
    b = kept.select(F.col(id_col).alias("id_b"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )


def _candidate_shingles(df, candidates, text_col, id_col, shingle_k):
    """Distinct-shingle arrays for ONLY the docs named by a candidate
    pair: one union+distinct over the (small) candidate ids, one
    left-semi join, then the shingle transform on the survivors."""
    ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .unionByName(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    return df.join(ids, id_col, "left_semi").select(
        F.col(id_col),
        F.array_distinct(shingles(text_col, shingle_k)).alias("_sh"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Verify candidate pairs with exact shingle Jaccard; keep >= threshold.

    Shingle sets are computed ONLY for documents that appear in a
    candidate pair (semi-join pushdown before the shingle transform):
    candidates are a vanishing fraction of a deduped 100 TB corpus, so
    the expensive array build must not run over the other 99%."""
    sh = _candidate_shingles(df, candidates, text_col, id_col, shingle_k)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sa"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sb"))
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("_sa", "_sb"))
            / F.size(F.array_union("_sa", "_sb")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Verify candidate pairs with ASYMMETRIC shingle containment:
    ``containment(X in Y) = |sh(X) ∩ sh(Y)| / |sh(X)|`` — the
    quote/excerpt detector Jaccard misses (a paragraph fully quoted
    inside a much longer page has tiny Jaccard but containment 1.0).

    Keeps pairs where EITHER direction reaches ``threshold`` and
    reports both directions, so callers can tell excerpt (one-sided)
    from near-identity (both-sided).  Same candidates→verify shape as
    ``ngram_jaccard_pairs``: only LSH candidates are scored, never all
    pairs.

    Shingle sets are computed only for candidate-participating
    documents — see ``ngram_jaccard_pairs``.

    Reference parity: extension operator; companion to
    ``ngram_jaccard_pairs`` (dedup.py:210).
    """
    sh = _candidate_shingles(df, candidates, text_col, id_col, shingle_k)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sa"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("double")
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("containment_a", inter / F.size("_sa"))
        .withColumn("containment_b", inter / F.size("_sb"))
        .filter(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
        .select("id_a", "id_b", "containment_a", "containment_b")
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    portable_hash: bool = False,
) -> DataFrame:
    """64-bit simhash: per-token hash bit-votes folded in array space.

    For each bit position i the vote is (#tokens with bit set) −
    (#tokens with bit clear); the signature sets bit i when the vote is
    positive. Token hashes are exploded to narrow (id, h) rows once and
    all 64 bit-votes are aggregate expressions of one groupBy(id) —
    a single hash-agg pass with map-side partials (same plan-shape
    rationale as ``minhash_signatures``).

    Near-dups differ in few bits; pair detection buckets on bit-chunks
    (4×16-bit chunks ⇒ Hamming ≤ 3 guaranteed candidate recall).
    """
    toks = F.array_distinct(F.split(_normalized(F.col(text_col)), " "))
    exploded = df.select(
        F.col(id_col),
        F.explode(
            F.transform(toks, lambda t: _token_hash(t, portable_hash))
        ).alias("_h"),
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    voted = exploded.groupBy(id_col).agg(*votes)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        mask = (1 << i) if i < 63 else -(1 << 63)
        sig = sig.bitwiseOR(
            F.when(F.col(f"v{i}") > 0, F.lit(mask).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return voted.select(F.col(id_col), sig.alias("simhash"))


def simhash_candidates(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    chunks: int = 4,
) -> DataFrame:
    """Bucket simhashes by 16-bit chunks; pairs sharing any chunk are candidates.

    Checkpoints the signature table — see ``minhash_lsh_candidates`` on
    why the self-join needs it; the returned frame owns it.
    """
    # localCheckpoint, not .cache() — see minhash_lsh_candidates
    sig_df = sig_df.localCheckpoint(eager=True)
    width = 64 // chunks
    mask = (1 << width) - 1
    exploded = sig_df.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), i * width).bitwiseAND(F.lit(mask))
                    for i in range(chunks)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("_sa"),
            F.col("b.simhash").alias("_sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    return owned(
        pairs.withColumn("hamming", hamming).drop("_sa", "_sb"), sig_df
    )


def set_similarity_join(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 1,
) -> DataFrame:
    """EXACT token-set Jaccard self-join: every pair ``(id_a < id_b,
    intersection, union_size, jaccard)`` with ``jaccard >= threshold``
    — no approximation, no recall loss.  The complement to the minhash
    path: minhash+LSH trades recall for speed at web scale; this is
    the AllPairs/prefix-filter algorithm (Bayardo et al., WWW'07)
    that keeps exactness yet still never goes all-pairs.

    Candidate generation is LOSSLESS by the prefix-filter theorem:
    order every document's distinct tokens by ascending GLOBAL
    frequency (ties by token — a total, engine-independent order);
    two sets with Jaccard >= t must share at least one token among
    each one's first ``|x| - ceil(t*|x|) + 1`` tokens.  Hot tokens
    (boilerplate, stopwords) sort LAST, so they almost never enter a
    prefix — the equi join fans out on RARE tokens only, which is
    what makes this hold at corpus scale where a naive shared-token
    join explodes on Σ freq².  A size filter (``t*max(|a|,|b|) <=
    min(|a|,|b|)``) prunes impossible pairs before the distinct.

    Plan: one token hash-agg (global frequencies), one sort-per-doc
    hash-agg (frequency-ordered token arrays), one prefix explode +
    equi self-join + distinct for candidates, one equi join back to
    the token arrays for the exact ``array_intersect`` verify.
    Candidate volume is Σ_prefix-token freq² — bounded by rare-token
    frequencies, not corpus size.

    ``shingle_k`` picks the set ELEMENT: 1 compares distinct-token
    sets; k >= 2 compares k-word shingle sets (``shingles()``, the
    minhash pipeline's element) — the right choice when the corpus
    vocabulary is small and unigram sets saturate.  Empty documents
    (no elements after normalization) have an undefined Jaccard —
    they are dropped, matching ``ngram_jaccard_pairs``.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError("set_similarity_join: threshold must be in (0, 1]")
    if shingle_k < 1:
        raise ValueError("set_similarity_join: shingle_k must be >= 1")
    from .spread import spread_small_scan

    df = spread_small_scan(df, id_col)
    if shingle_k == 1:
        elems = F.split(_normalized(F.col(text_col)), " ")
    else:
        elems = shingles(F.col(text_col), k=shingle_k)
    toks = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(elems).alias("_tok"),
        )
        .filter(F.col("_tok") != "")
        .distinct()
    )
    freq = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_freq"))
    # frequency-ordered token array per doc: sort_array over
    # (freq, token) structs is a total order shared with the oracle
    docs = (
        toks.join(freq, "_tok")
        .groupBy("_id")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("_freq", "_tok"))
                ),
                lambda s: s["_tok"],
            ).alias("_toks")
        )
        .withColumn("_sz", F.size("_toks"))
    )
    prefix_len = (
        F.col("_sz") - F.ceil(F.lit(float(threshold)) * F.col("_sz")) + 1
    ).cast("int")
    pre = docs.select(
        "_id",
        "_sz",
        F.explode(F.slice("_toks", 1, prefix_len)).alias("_tok"),
    )
    a = pre.select(
        F.col("_id").alias("_ida"), F.col("_sz").alias("_sza"), "_tok"
    )
    b = pre.select(
        F.col("_id").alias("_idb"), F.col("_sz").alias("_szb"), "_tok"
    )
    cand = (
        a.join(b, "_tok")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(
            F.lit(float(threshold))
            * F.greatest(F.col("_sza"), F.col("_szb"))
            <= F.least(F.col("_sza"), F.col("_szb"))
        )
        .select("_ida", "_idb")
        .distinct()
    )
    da = docs.select(
        F.col("_id").alias("_ida"),
        F.col("_toks").alias("_ta"),
        F.col("_sz").alias("_sa"),
    )
    db = docs.select(
        F.col("_id").alias("_idb"),
        F.col("_toks").alias("_tb"),
        F.col("_sz").alias("_sb"),
    )
    inter = F.size(F.array_intersect("_ta", "_tb"))
    verified = (
        cand.join(da, "_ida")
        .join(db, "_idb")
        .withColumn("intersection", inter)
        .withColumn(
            "union_size",
            F.col("_sa") + F.col("_sb") - F.col("intersection"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("intersection").cast("double")
                / F.col("union_size").cast("double"),
                6,
            ),
        )
        .filter(
            F.col("intersection").cast("double")
            >= F.lit(float(threshold)) * F.col("union_size").cast("double")
        )
    )
    return verified.select(
        F.col("_ida").alias("id_a"),
        F.col("_idb").alias("id_b"),
        F.col("intersection").cast("long").alias("intersection"),
        F.col("union_size").cast("long").alias("union_size"),
        "jaccard",
    )
