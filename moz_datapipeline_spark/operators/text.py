"""Text-analysis operators for training-data pipelines.

All pure Column expressions (regexp + arithmetic) so they run inside
whole-stage codegen over 100 TB of documents — no Python in the hot
path.

- ``token_count``      — whitespace tokenization count.
- ``quality_features`` — length / punctuation / digit / stopword ratios,
  mean word length; composite 0–100 quality score (the reference's
  0–100 indicator-score convention, README.md:79-83).
- ``lang_id``          — two-tier heuristic: Unicode-script dominance
  (Cyrillic/CJK/kana/Hangul/Arabic/Hebrew/Devanagari/Greek/Thai) first,
  marker-stopword argmax for Latin-script text.
- ``fingerprint``      — deterministic 64-bit document fingerprint
  (xxhash64 of normalized text) for exact-dup detection and
  shard-stable sampling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from moz_datapipeline_spark.iterate import owned
from moz_datapipeline_spark.operators.ranges import prefix_scan

# tiny marker lists per language — deterministic heuristic, not a model
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "les", "des", "et"),
    "zh": ("de", "shi", "le", "zai", "he"),
}

#: Unicode script blocks → language guess when the script dominates.
#: Marker words only work for Latin-script languages; for everything
#: else the script itself is the strongest signal and needs no word
#: list. Ranges are counted JVM-side (length diff after regexp strip).
SCRIPT_RANGES: dict[str, str] = {
    "ru": "\u0400-\u04ff",  # Cyrillic
    "zh": "\u4e00-\u9fff",  # CJK Unified Ideographs (Han)
    "ja": "\u3040-\u30ff",  # Hiragana + Katakana
    "ko": "\uac00-\ud7af",  # Hangul syllables
    "ar": "\u0600-\u06ff",  # Arabic
    "he": "\u0590-\u05ff",  # Hebrew
    "hi": "\u0900-\u097f",  # Devanagari
    "el": "\u0370-\u03ff",  # Greek
    "th": "\u0e00-\u0e7f",  # Thai
}


def token_count(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    trimmed = F.trim(t)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def _count_matches(t: Column, pattern: str) -> Column:
    # count regex matches = len(text) - len(text with matches removed) is
    # wrong for multi-char matches; use size(split)-1 which counts
    # occurrences of the pattern as separators — robust and codegen'd.
    return F.size(F.split(t, pattern)) - 1


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add length, ratios, and a composite quality_score column (0–100)."""
    t = F.col(text_col)
    n_chars = F.length(t).cast("double")
    tokens = token_count(text_col).cast("double")
    punct = _count_matches(t, r"[\.,;:!\?]").cast("double")
    digits = _count_matches(t, r"[0-9]").cast("double")
    stop = _count_matches(F.concat(F.lit(" "), F.lower(t), F.lit(" ")),
                          r"\s(the|a|of|to|and|in|is)\s").cast("double")
    out = (
        df.withColumn("n_tokens", tokens.cast("long"))
        .withColumn("punct_ratio", F.when(n_chars > 0, punct / n_chars).otherwise(0.0))
        .withColumn("digit_ratio", F.when(n_chars > 0, digits / n_chars).otherwise(0.0))
        .withColumn(
            "stopword_ratio", F.when(tokens > 0, stop / tokens).otherwise(0.0)
        )
        .withColumn(
            "mean_word_len", F.when(tokens > 0, (n_chars - tokens + 1) / tokens).otherwise(0.0)
        )
    )
    # composite score: reward stopwords + moderate length, punish digit soup
    score = (
        F.least(F.col("stopword_ratio") * 4.0, F.lit(1.0)) * 50.0
        + F.least(n_chars / 1000.0, F.lit(1.0)) * 30.0
        + (1.0 - F.least(F.col("digit_ratio") * 10.0, F.lit(1.0))) * 20.0
    )
    return out.withColumn("quality_score", score)


def _script_count(t: Column, char_range: str) -> Column:
    """Chars of ``t`` inside the given Unicode range (length diff after
    a regexp strip — stays in whole-stage codegen)."""
    return F.length(t) - F.length(F.regexp_replace(t, f"[{char_range}]", ""))


def lang_id(
    df: DataFrame, text_col: str = "text", script_threshold: float = 0.3
) -> DataFrame:
    """Predict language: Unicode-script dominance first, marker words else.

    Two tiers, all JVM-side expressions:

    1. **Script tier** — per-script character counts over
       ``SCRIPT_RANGES``. Kana at >5% of non-space chars decides ``ja``
       (Japanese mixes Han + kana; the kana are the discriminator vs
       Chinese), else the argmax script decides if it holds more than
       ``script_threshold`` of non-space chars.
    2. **Marker tier** — Latin-script fallback: marker-word hit counts,
       argmax with ties broken by language code ascending (stable
       across partitionings). Pure-ASCII text never reaches tier 1, so
       Latin-corpus results are unchanged by the script extension.

    Emits ``lang_pred`` plus per-language ``hits_*`` and ``script_*``
    feature counts.
    """
    t = F.col(text_col)
    padded = F.concat(F.lit(" "), F.lower(t), F.lit(" "))
    out = df
    for lang, markers in LANG_MARKERS.items():
        pat = r"\s(" + "|".join(markers) + r")\s"
        out = out.withColumn(f"hits_{lang}", _count_matches(padded, pat))
    hits = F.array(
        *[
            F.struct(
                (-F.col(f"hits_{lang}")).alias("neg"),
                F.lit(lang).alias("lang"),
            )
            for lang in LANG_MARKERS
        ]
    )
    marker_pred = F.array_min(hits).getField("lang")

    for lang, rng in SCRIPT_RANGES.items():
        out = out.withColumn(f"script_{lang}", _script_count(t, rng))
    non_space = F.length(F.regexp_replace(t, r"\s", "")).cast("double")
    scripts = F.array(
        *[
            F.struct(
                (-F.col(f"script_{lang}")).alias("neg"),
                F.lit(lang).alias("lang"),
            )
            for lang in SCRIPT_RANGES
        ]
    )
    best = F.array_min(scripts)
    best_count = (-best.getField("neg")).cast("double")
    script_pred = F.when(
        (non_space > 0)
        & (F.col("script_ja").cast("double") / non_space > 0.05),
        F.lit("ja"),
    ).when(
        (non_space > 0) & (best_count / non_space > script_threshold),
        best.getField("lang"),
    )
    return out.withColumn("lang_pred", F.coalesce(script_pred, marker_pred))


#: GPT-2-style pre-tokenizer approximation — contractions, letter runs,
#: digit runs, punctuation runs (no lookahead: portable to RE2 engines)
BPE_ISH_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_ish_token_count(text: Column | str) -> Column:
    """Token count under a BPE-style pre-tokenization regex.

    Approximates LLM token budgeting far better than whitespace counts
    (punctuation and digit runs split off). Pure regexp_extract_all —
    JVM-side, and the pattern avoids lookahead so the same regex runs on
    RE2-based engines for oracle checks.
    """
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(t, F.lit(BPE_ISH_PATTERN), 0))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03).

    k-token grams are hashed (md5 — any total order works for winnowing,
    so the lexicographic min of hex digests replaces the usual numeric
    min, keeping every step portable), then each sliding window of ``w``
    consecutive gram hashes contributes its minimum; the distinct mins
    are the document's fingerprints. Shared fingerprints ⇒ shared
    k-gram runs ⇒ local similarity — robust to insertions/reordering
    where whole-document hashing breaks.

    Plan: kgram build is array zip_with (O(n)); the window min is a
    bounded ROWS window partitioned BY DOCUMENT — parallel across docs,
    no global sort.
    """
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " "
    )
    n = F.size(toks)
    kg = toks
    for off in range(1, k):
        kg = F.zip_with(
            F.slice(kg, 1, F.greatest(n - off, F.lit(1))),
            F.slice(toks, off + 1, F.greatest(n - off, F.lit(1))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    exploded = df.select(
        F.col(id_col), F.posexplode(kg).alias("pos", "kgram")
    ).withColumn("fp", F.md5("kgram"))
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    counts = Window.partitionBy(id_col)
    mins = (
        exploded.withColumn("win_min", F.min("fp").over(win))
        .withColumn("_n", F.count("*").over(counts))
        .filter(F.col("pos") <= F.col("_n") - w)
    )
    return mins.select(id_col, F.col("win_min").alias("fingerprint")).distinct()


def stable_sample(
    df: DataFrame, fraction: float, key_col: str, seed: str = "sample"
) -> DataFrame:
    """Deterministic content-addressed sampling: keep a row iff
    ``hash(seed, key) < fraction`` of the hash space.

    Unlike ``df.sample()`` this is stable across runs, partitionings,
    and engines (md5-based), so train/eval splits and downsampling
    decisions are reproducible and a row's fate never changes when the
    corpus is re-sharded — the property a 100 TB pipeline needs for
    incremental reprocessing.
    """
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed), F.lit(":"), F.col(key_col).cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    space = float(1 << 60)
    return df.filter(h < F.lit(int(fraction * space)))


#: PII patterns — deliberately RE2-portable (no lookbehind) so the same
#: literal pattern drives Spark (Java regex) and DuckDB (RE2) oracles.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"(?:\+?[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
}


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Mask emails / phone numbers / IPv4 addresses in ``text_col``.

    Standard pre-training scrub. Adds ``redacted_text`` (each match
    replaced by ``[EMAIL]``/``[PHONE]``/``[IP]``) and per-kind match
    counts (``n_email``…), all as chained regexp expressions inside
    whole-stage codegen — no Python in the hot path. Order matters:
    emails first so their digits can't be half-eaten by the phone rule.
    """
    labels = {"email": "[EMAIL]", "phone": "[PHONE]", "ipv4": "[IP]"}
    out = df
    red = F.col(text_col)
    for kind, pat in PII_PATTERNS.items():
        # count on the partially-redacted text: an email's digits must
        # not double-count as a phone number
        out = out.withColumn(f"n_{kind}", _count_matches(red, pat))
        red = F.regexp_replace(red, pat, labels[kind])
    return out.withColumn("redacted_text", red)


def chunk_documents(
    df: DataFrame,
    max_tokens: int = 128,
    stride: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size token windows (training chunks).

    ``stride`` < ``max_tokens`` yields overlapping windows (the usual
    context-carryover trick); default is non-overlapping. Output: one
    row per chunk with (id, chunk_idx, n_tokens, chunk_text).

    Plan shape: tokens array built once per row, window starts via
    ``sequence``, chunk slices via ``transform`` + ``slice`` — one
    ``posexplode``, no shuffle at all until the caller aggregates; at
    100 TB this is a pure map stage that AQE can pipeline into the
    next shuffle.
    """
    s = stride or max_tokens
    trimmed = F.trim(F.col(text_col))
    toks = F.split(F.regexp_replace(trimmed, r"\s+", " "), " ")
    n = F.size(toks)
    # empty documents yield zero chunks (posexplode drops the row)
    starts = F.when(
        (trimmed != "") & (n > 0),
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(s)),
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(
        starts, lambda st: F.slice(toks, st + 1, max_tokens)
    )
    return (
        df.select(
            F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "_chunk")
        )
        .withColumn("n_tokens", F.size("_chunk"))
        .withColumn("chunk_text", F.array_join("_chunk", " "))
        .drop("_chunk")
    )


def pack_documents(
    df: DataFrame,
    max_tokens: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Concat-and-cut sample packing: assign every document a span in
    the virtual token stream formed by concatenating all documents in
    ``id_col`` order, then cut the stream into ``max_tokens`` bins.

    The LLM-pretraining packing strategy (documents straddle bin
    boundaries; no padding waste). Output: one row per (document × bin
    it touches) with the half-open token span of the overlap —
    (id, n_tokens, bin, bin_start, bin_end), where bin_start/bin_end
    index into the DOCUMENT's own tokens.

    Plan shape — each document's end offset is a ``ranges.prefix_scan``
    sum of token counts in id order, never a single-partition global
    window.  Bin fan-out is a ``sequence``+``explode``, shuffle-free.
    """
    toks = token_count(text_col)
    with_n = df.select(F.col(id_col), toks.alias("n_tokens"))
    scan = prefix_scan(
        with_n,
        [F.col(id_col).asc()],
        {"_end": ("sum", F.col("n_tokens").cast("long"))},
    )
    spans = scan.withColumn(
        "_start", (F.col("_end") - F.col("n_tokens")).cast("long")
    )
    # bins this document touches: floor(start/max) .. floor((end-1)/max)
    first_bin = (F.col("_start") / max_tokens).cast("long")
    last_bin = ((F.col("_end") - 1) / max_tokens).cast("long")
    exploded = spans.filter(F.col("n_tokens") > 0).select(
        id_col,
        "n_tokens",
        "_start",
        "_end",
        F.explode(F.sequence(first_bin, last_bin)).alias("bin"),
    )
    bin_lo = F.col("bin") * max_tokens
    bin_hi = bin_lo + max_tokens
    out = exploded.select(
        id_col,
        "n_tokens",
        "bin",
        (F.greatest(F.col("_start"), bin_lo) - F.col("_start")).alias(
            "bin_start"
        ),
        (F.least(F.col("_end"), bin_hi) - F.col("_start")).alias("bin_end"),
    )
    return owned(out, scan)


def batch_by_length(
    df: DataFrame,
    batch_size: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_bounds: tuple[int, ...] = (16, 32, 64, 128, 256, 512, 1024),
) -> DataFrame:
    """Length-bucketed batching: assign every document a (length bucket,
    batch index) so fixed-size training/inference batches hold
    similar-length sequences and per-batch padding waste is bounded by
    the bucket width (the dynamic-batching scheme of finetuning and
    serving data prep; ``pack_documents`` is the padding-free
    pretraining cousin).

    Bucket = number of bounds strictly below the token count (0 ..
    len(bounds)); within a bucket, documents in ``id_col`` order chunk
    into consecutive ``batch_size`` batches.

    Plan shape — a per-bucket ``ranges.prefix_scan`` row number, never
    a per-bucket global window (a handful of buckets would serialize
    the whole corpus through that few tasks).  Deterministic, RNG-free,
    SQL-replayable.

    Returns (id, n_tokens, len_bucket, batch_idx).
    """
    if batch_size < 1:
        raise ValueError("batch_by_length: batch_size must be >= 1")
    n = token_count(text_col)
    bucket = sum(
        (n > F.lit(b)).cast("int") for b in bucket_bounds
    )
    with_n = df.select(
        F.col(id_col), n.alias("n_tokens"), bucket.alias("len_bucket")
    )
    scan = prefix_scan(
        with_n,
        [F.col(id_col).asc()],
        {"_pos": ("sum", F.lit(1))},
        by=["len_bucket"],
        exclusive=True,
    )
    out = scan.select(
        id_col,
        "n_tokens",
        "len_bucket",
        (F.col("_pos") / batch_size).cast("long").alias("batch_idx"),
    )
    return owned(out, scan)


def fingerprint(text: Column | str) -> Column:
    """64-bit content fingerprint of whitespace-normalized, lowercased text."""
    t = F.col(text) if isinstance(text, str) else text
    norm = F.regexp_replace(F.lower(F.trim(t)), r"\s+", " ")
    return F.xxhash64(norm)


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document character-level Shannon entropy (bits):
    ``(doc_id, n_chars_total, char_entropy)``.

    A low-entropy document is keyboard mash, padding, or template
    residue (the Gopher/C4 quality rules keep an entropy-adjacent
    repetition screen); this is the direct signal.

    Scale design: the naive plan (explode one row PER CHARACTER, then
    groupBy) shuffles the entire corpus byte volume.  Here the whole
    histogram is computed INSIDE each row: sort the char array, then
    ONE ``aggregate`` pass whose lambda folds run lengths into
    Σ n·log2 n as runs end — zero shuffle, zero UDF, O(L log L) per
    doc.  H = log2(L) − (Σ n·log2 n)/L.  NULL/empty text → 0.0 by
    convention (no information, not missing).

    The fold must reference ONLY the accumulator and the element: an
    earlier formulation indexed back into the sorted array from a
    positions lambda (``F.get(s, i)``), and because Catalyst inlines
    (does not CSE) the array expression into every lambda element
    evaluation, the row cost went quadratic — 720 s for the sf0.1
    corpus vs ~1 s for this run-fold.
    """
    t = F.col(text_col)
    s = F.array_sort(F.filter(F.split(t, ""), lambda x: x != ""))
    L = F.size(s)

    def _step(acc: Column, c: Column) -> Column:
        r = acc["run"].cast("double")
        return (
            F.when(
                acc["run"] == 0,
                F.struct(
                    c.alias("prev"), F.lit(1).alias("run"),
                    F.lit(0.0).alias("t"),
                ),
            )
            .when(
                c == acc["prev"],
                F.struct(
                    c.alias("prev"), (acc["run"] + 1).alias("run"),
                    acc["t"].alias("t"),
                ),
            )
            .otherwise(
                F.struct(
                    c.alias("prev"), F.lit(1).alias("run"),
                    (acc["t"] + r * F.log2(r)).alias("t"),
                )
            )
        )

    T = F.aggregate(
        s,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"),
            F.lit(0.0).alias("t"),
        ),
        _step,
        lambda acc: F.when(
            acc["run"] > 0,
            acc["t"]
            + acc["run"].cast("double") * F.log2(acc["run"].cast("double")),
        ).otherwise(F.lit(0.0)),
    )
    h = F.when(
        L > 0, F.log2(L.cast("double")) - T / L.cast("double")
    ).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(L, F.lit(0)).cast("long").alias("n_chars_total"),
        F.round(h, 6).alias("char_entropy"),
    )


def normalize_unicode(
    df: DataFrame, text_col: str = "text", out_col: str = "text_norm"
) -> DataFrame:
    """Unicode hygiene: NFC-compose, strip C0/C1 control characters
    (keeping \\n and \\t), collapse runs of spaces/tabs, trim.

    Web-scraped corpora mix composed and decomposed accents ("café"
    as 4 or 5 codepoints) — exact dedup and tokenizers treat them as
    different documents unless normalized first, so this runs before
    ``exact_dedup``/BPE in the curation flow.

    NFC has no JVM builtin in Spark SQL, so composition uses an
    Arrow-batched pandas UDF (``unicodedata.normalize`` — linear per
    string, no shuffle: still a pure projection); the control-char
    strip and whitespace collapse stay JVM-side regexps.  The DuckDB
    oracle replays byte-for-byte via ``nfc_normalize``.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _nfc_fn(col: "pd.Series") -> "pd.Series":
        import unicodedata

        return col.map(
            lambda s: unicodedata.normalize("NFC", s)
            if s is not None
            else None
        )

    # annotate with the real class (not string hints) so the UDF
    # signature resolves regardless of import scope
    _nfc_fn.__annotations__ = {"col": pd.Series, "return": pd.Series}
    _nfc = pandas_udf(_nfc_fn, "string")

    cleaned = F.regexp_replace(
        _nfc(F.col(text_col)),
        "[\\x00-\\x08\\x0b-\\x1f\\x7f\\x80-\\x9f]",
        "",
    )
    collapsed = F.trim(F.regexp_replace(cleaned, "[ \\t]+", " "))
    return df.withColumn(out_col, collapsed)


def group_sample(
    df: DataFrame,
    group_col: str,
    k: int,
    key_col: str,
    seed: str = "gsample",
) -> DataFrame:
    """Deterministic exact-k sample PER GROUP: for every group keep
    the ``k`` rows whose content-addressed hash (same md5 scheme as
    ``stable_sample``) ranks lowest, ties broken by the key itself.
    Groups smaller than ``k`` keep all their rows.

    This is the per-group twin of ``stable_sample``: membership is a
    pure function of (seed, key), so re-sharding, re-running, or
    re-ordering the corpus never changes which rows a group
    contributes — and unlike a fraction-based sampler, small groups
    are never emptied and large groups never over-represented (the
    fixed-k-per-group balance domain-capped corpora want).

    Plan: one hash-partitioned window (rank within group by hash) —
    the standard exact-top-k-per-key shape.  Skew caveat: a mega
    group sorts on one partition; when groups can be pathologically
    hot, cap their width upstream (``domain_cap``) or accept the
    AQE-split sort.  No driver action, no join.
    """
    if k < 1:
        raise ValueError("group_sample: need k >= 1")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(seed), F.lit(":"), F.col(key_col).cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy(group_col).orderBy(
        h.asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def readability_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch-style readability per document, appended as columns:
    ``n_words, n_sentences, n_syllables, flesch`` — the standard
    corpus-quality covariate (curriculum bucketing, easy/hard split,
    "too simple to train on" filters).

    Counting conventions chosen for ENGINE portability (identical
    string semantics in Spark and DuckDB, no language model):

    - words      = whitespace tokens (the ``_terms`` tokenizer);
    - sentences  = runs of ``[.!?]`` acting as terminators — split on
      the run, count pieces containing at least one alphanumeric (an
      abbreviation period still splits: a documented approximation);
    - syllables  = vowel-group count: maximal ``[aeiouy]+`` runs in
      the lowercased text (the classic one-liner estimator — within
      ~10% of dictionary syllables on English prose, exact enough for
      a monotone difficulty score).

    ``flesch`` = 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words); NULL when words or sentences are zero
    (no basis).  Pure JVM projection — regex split + filter HOFs, one
    pass, no shuffle, no UDF; trivially column-pruned at 100 TB.
    """
    t = F.lower(F.col(text_col))
    words = F.size(F.filter(F.split(t, r"\s+"), lambda x: x != ""))
    sentences = F.size(
        F.filter(
            F.split(t, r"[.!?]+"),
            lambda p: p.rlike("[a-z0-9]"),
        )
    )
    syllables = F.size(
        F.filter(F.split(t, r"[^aeiouy]+"), lambda x: x != "")
    )
    base = (
        df.withColumn("n_words", words.cast("long"))
        .withColumn("n_sentences", sentences.cast("long"))
        .withColumn("n_syllables", syllables.cast("long"))
    )
    flesch = F.when(
        (F.col("n_words") > 0) & (F.col("n_sentences") > 0),
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("n_words") / F.col("n_sentences")).cast("double")
        - F.lit(84.6)
        * (F.col("n_syllables") / F.col("n_words")).cast("double"),
    )
    return base.withColumn("flesch", F.round(flesch, 6))


#: RAKE boundary words: the tokens that terminate a candidate phrase.
#: A small literal list (not a language pack) so every engine replays
#: the identical segmentation.
RAKE_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "for",
    "with", "is", "are", "was", "were", "be", "by", "at", "as", "it",
    "this", "that", "from", "but", "not",
)


def rake_keyphrases(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    stopwords: tuple[str, ...] = RAKE_STOPWORDS,
) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010), corpus-level:
    ``(phrase, n_occurrences, score)`` — the top-``k`` phrases by the
    classic degree/frequency word score.

    - candidate phrases = maximal runs of non-stopword words, broken
      at stopwords AND at punctuation (text splits into segments on
      ``[^a-z0-9\\s]+`` first, so "fast, scalable joins" yields two
      phrases, not one spanning the comma);
    - word score = deg(w)/freq(w), where freq counts occurrences in
      phrases and deg sums the LENGTH of each containing phrase
      (co-occurrence credit: words appearing in long phrases score
      higher);
    - phrase score = Σ word scores; identical phrase text scores
      identically, so the output groups by phrase with an occurrence
      count.  Corpus-level statistics (the training-data use:
      "what is this corpus about"), not per-document — document-level
      RAKE is the same plan with ``id_col`` added to the stats keys.

    Plan: two posexplodes (segments, words), ONE doc-partitioned
    running-sum window to number the stopword-delimited runs, one
    window for phrase length, one hash aggregate for the word stats
    (vocabulary-sized — an equi join back, not a broadcast: at 100 TB
    the vocabulary outgrows any executor), one phrase fold, one
    TakeOrderedAndProject.  No Python anywhere.
    """
    lt = F.lower(F.col(text_col))
    segs = F.split(lt, r"[^a-z0-9\s]+")
    d0 = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_doc"),
        F.posexplode(segs).alias("seg", "_segtext"),
    )
    d1 = d0.select(
        "_doc",
        "seg",
        F.posexplode(F.split(F.col("_segtext"), r"\s+")).alias(
            "pos", "w"
        ),
    ).filter(F.col("w") != "")
    d1 = d1.withColumn(
        "is_stop", F.col("w").isin(*stopwords).cast("int")
    )
    wrun = (
        Window.partitionBy("_doc", "seg")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d2 = d1.withColumn("grp", F.sum("is_stop").over(wrun)).filter(
        F.col("is_stop") == 0
    )
    wlen = Window.partitionBy("_doc", "seg", "grp")
    d3 = d2.withColumn("_plen", F.count(F.lit(1)).over(wlen))
    stats = d3.groupBy("w").agg(
        F.count(F.lit(1)).alias("_freq"),
        F.sum("_plen").alias("_deg"),
    )
    scored = d3.join(stats, "w").withColumn(
        "_wscore",
        F.col("_deg").cast("double") / F.col("_freq").cast("double"),
    )
    phrases = scored.groupBy("_doc", "seg", "grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("phrase"),
        F.sum("_wscore").alias("_pscore"),
    )
    return (
        phrases.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.round(F.max("_pscore"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("phrase"))
        .limit(k)
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 1000,
) -> DataFrame:
    """Zipf's-law fit over the corpus term-frequency distribution, one
    row ``(n_terms, c0, exponent, r2)`` — the log-log OLS of frequency
    against rank over the ``top_n`` most frequent terms (Zipf:
    freq ∝ rank^−s, s ≈ 1 for natural language).  The corpus-health
    smoke alarm: machine-generated or template-heavy corpora bend the
    tail (s drifts and r² collapses), and a near-perfect fit with the
    wrong s flags synthetic text.

    Plan: lowercase whitespace tokenize → one (term, count) hash
    aggregate (map-side combined) → distributed top-``top_n`` by
    (count DESC, term ASC) — Spark's TakeOrdered, a per-partition
    heap + driver merge, never a global sort — → rank and the OLS fold
    over the ≤ ``top_n``-row frame.  The only data-sized exchange is
    the term aggregate; everything after is top_n-sized.  Ties order
    by term so the cut is deterministic.
    """
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " "
    )
    terms = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(toks).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = terms.orderBy(F.col("freq").desc(), F.col("term").asc()).limit(
        int(top_n)
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("term").asc())
    # window over ≤ top_n rows (post-limit) — bounded, never data-sized
    ranked = top.withColumn("rank", F.row_number().over(w)).select(
        F.log(F.col("rank").cast("double")).alias("_lx"),
        F.log(F.col("freq").cast("double")).alias("_ly"),
    )
    folded = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("_lx").alias("_sx"),
        F.sum("_ly").alias("_sy"),
        F.sum(F.col("_lx") * F.col("_lx")).alias("_sxx"),
        F.sum(F.col("_ly") * F.col("_ly")).alias("_syy"),
        F.sum(F.col("_lx") * F.col("_ly")).alias("_sxy"),
    )
    n = F.col("n_terms").cast("double")
    cov = F.col("_sxy") - F.col("_sx") * F.col("_sy") / n
    vx = F.col("_sxx") - F.col("_sx") * F.col("_sx") / n
    vy = F.col("_syy") - F.col("_sy") * F.col("_sy") / n
    slope = F.when((F.col("n_terms") > 1) & (vx > 0), cov / vx)
    intercept = (F.col("_sy") - slope * F.col("_sx")) / n
    r2 = F.when(
        slope.isNotNull() & (vy > 0), cov * cov / (vx * vy)
    )
    return folded.select(
        "n_terms",
        F.round(F.exp(intercept), 6).alias("c0"),
        F.round(-slope, 6).alias("exponent"),
        F.round(r2, 6).alias("r2"),
    )


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style repetition gates: ``(id, n_tokens, n_lines,
    dup_line_frac, top_bigram_frac)`` — the two repetition signals the
    length/stopword battery (``quality_features``) cannot see:
    documents that are long and stopword-plausible but are really one
    boilerplate block repeated (nav bars, SEO spam, scraped menus).
    ``dup_line_frac`` = fraction of non-blank lines that are repeats
    of an earlier-seen line (1 − distinct/total); ``top_bigram_frac``
    = fraction of word-bigram occurrences taken by the most common
    bigram.  Filter callers typically gate at dup_line_frac > 0.3 /
    top_bigram_frac > 0.2 (Rae et al. 2021's published thresholds live
    in the caller, not here).

    Plan shape: tokens and bigram arrays build JVM-side
    (``split`` + ``zip_with`` on the array and its tail — no UDF, no
    explode for the token count), then ONE explode each for the line
    and bigram rollups, each a (doc, value) hash aggregate with
    map-side combine and doc-sized folds after.  All exchanges are
    keyed by doc id — per-doc work is document-length-bounded, never
    corpus-shaped.  Empty docs report 0 fractions.
    """
    t = F.col(text_col)
    toks = F.split(F.lower(F.trim(t)), r"\s+")
    n_tok = F.when(F.trim(t) == "", F.lit(0)).otherwise(F.size(toks))
    head = F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0)))
    tail = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    bigrams = F.zip_with(
        head, tail, lambda a, b: F.concat_ws(" ", a, b)
    )
    lines = F.filter(
        F.transform(F.split(t, r"\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    base = df.select(
        F.col(id_col).alias("id"),
        n_tok.alias("n_tokens"),
        bigrams.alias("_bg"),
        lines.alias("_ln"),
    )
    line_stats = (
        base.select("id", F.explode_outer("_ln").alias("_l"))
        .groupBy("id")
        .agg(
            F.count("_l").alias("_nl"),
            F.countDistinct("_l").alias("_dl"),
        )
    )
    bg_counts = (
        base.select("id", F.explode_outer("_bg").alias("_b"))
        .groupBy("id", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    bg_stats = bg_counts.groupBy("id").agg(
        F.sum(F.when(F.col("_b").isNotNull(), F.col("_c"))).alias("_tb"),
        F.max(F.when(F.col("_b").isNotNull(), F.col("_c"))).alias("_mb"),
    )
    out = (
        base.select("id", "n_tokens")
        .join(line_stats, "id", "left")
        .join(bg_stats, "id", "left")
    )
    dup_frac = F.when(
        F.col("_nl") > 0,
        F.lit(1.0)
        - F.col("_dl").cast("double") / F.col("_nl").cast("double"),
    ).otherwise(F.lit(0.0))
    top_frac = F.when(
        F.col("_tb") > 0,
        F.col("_mb").cast("double") / F.col("_tb").cast("double"),
    ).otherwise(F.lit(0.0))
    return out.select(
        "id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce(F.col("_nl"), F.lit(0)).cast("long").alias("n_lines"),
        F.round(dup_frac, 6).alias("dup_line_frac"),
        F.round(top_frac, 6).alias("top_bigram_frac"),
    )


def lexical_diversity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Lexical-diversity quality signals: ``(id, n_tokens, n_types,
    type_token_ratio, hapax_frac)`` — vocabulary size over token
    count, and the fraction of the vocabulary used exactly once.
    Complements ``repetition_signals``: template spam scores LOW TTR
    (few types recycled); keyword-stuffing and gibberish score HIGH
    hapax fractions; natural prose sits between.  (TTR is
    length-sensitive — compare within length bands, or gate after
    ``batch_by_length``.)

    Everything builds JVM-side from ONE split: token count from the
    array size, types from ``array_distinct``, hapax counts via ONE
    doc-keyed explode + (doc, word) rollup.  Exchanges are doc-keyed;
    per-doc work is document-length-bounded.  Empty docs report 0s
    and NULL ratios.
    """
    t = F.col(text_col)
    toks = F.split(F.lower(F.trim(t)), r"\s+")
    empty = F.trim(t) == ""
    base = df.select(
        F.col(id_col).alias("id"),
        F.when(empty, F.lit(0)).otherwise(F.size(toks)).alias("n_tokens"),
        F.when(empty, F.lit(0))
        .otherwise(F.size(F.array_distinct(toks)))
        .alias("n_types"),
        F.when(empty, F.array().cast("array<string>"))
        .otherwise(toks)
        .alias("_tk"),
    )
    hapax = (
        base.select("id", F.explode_outer("_tk").alias("_w"))
        .groupBy("id", "_w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("id")
        .agg(
            F.sum(
                F.when(F.col("_w").isNotNull() & (F.col("_c") == 1), 1)
                .otherwise(0)
            ).alias("_hapax")
        )
    )
    out = base.drop("_tk").join(hapax, "id", "left")
    return out.select(
        "id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        F.round(
            F.when(
                F.col("n_tokens") > 0,
                F.col("n_types").cast("double")
                / F.col("n_tokens").cast("double"),
            ),
            6,
        ).alias("type_token_ratio"),
        F.round(
            F.when(
                F.col("n_types") > 0,
                F.coalesce(F.col("_hapax"), F.lit(0)).cast("double")
                / F.col("n_types").cast("double"),
            ),
            6,
        ).alias("hapax_frac"),
    )


def skipgram_pairs(
    df: DataFrame,
    seq_col: str,
    pos_col: str,
    token_col: str,
    window: int = 2,
) -> DataFrame:
    """Skip-gram (center, context) pair generation over ANY sequence
    frame — event sessions, random-walk corpora (``graph/walks``),
    token streams: rows ``(seq, center, context, distance)`` for
    every ordered pair within ``window`` positions (distance signed,
    center ≠ context position).  The standard word2vec/DeepWalk
    training-pair builder; weight by ``1/abs(distance)`` downstream
    for GloVe-style decay.

    Plan: NOT a range join — the offset set is tiny and fixed, so
    each pair is an ``explode(±1..±window)`` + one EQUI join on
    (seq, pos+d): Catalyst plans a plain shuffled hash join keyed on
    the sequence and exact position, and absent positions (sequence
    edges) drop out via the join.  Cost: |rows|·2w join probes —
    linear in the corpus, no quadratic blowup on long sequences.
    """
    if window < 1:
        raise ValueError("skipgram_pairs: window must be >= 1")
    left = df.select(
        F.col(seq_col).alias("seq"),
        F.col(pos_col).cast("long").alias("_pos"),
        F.col(token_col).alias("center"),
    ).filter(F.col("_pos").isNotNull() & F.col("center").isNotNull())
    right = df.select(
        F.col(seq_col).alias("seq"),
        F.col(pos_col).cast("long").alias("_cpos"),
        F.col(token_col).alias("context"),
    ).filter(F.col("_cpos").isNotNull() & F.col("context").isNotNull())
    offsets = [d for d in range(-int(window), int(window) + 1) if d]
    expanded = left.withColumn(
        "distance",
        F.explode(F.array(*[F.lit(d) for d in offsets])),
    )
    return expanded.join(
        right,
        (expanded["seq"] == right["seq"])
        & (right["_cpos"] == expanded["_pos"] + expanded["distance"]),
    ).select(
        expanded["seq"],
        "center",
        "context",
        F.col("distance").cast("int").alias("distance"),
    )
