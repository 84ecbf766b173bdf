"""Text analytics operators: tokenization, quality signals, language ID,
fingerprints — all built-in Spark column expressions (JVM-side, codegen'd).

These are the corpus-profiling operations a training-data pipeline runs after
extraction (C4/Gopher-style quality filtering, language routing, token
budgeting). Each builder returns Columns usable on any DataFrame with a text
column (the extracted table, the driver's ``documents`` table, …).

Portability note: the arithmetic shapes here (regex-split token counts,
replace-length stopword counting) are chosen so an independent ANSI-SQL
oracle computes bit-identical values — see webextract.queries for the
DuckDB-checked forms.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# ---------------------------------------------------------------------------
# tokenization
# ---------------------------------------------------------------------------


def token_count(col: Column | str) -> Column:
    """Whitespace-run token count; 0 for empty/blank text."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def _norm_padded(col: Column | str) -> Column:
    """Lowercased, whitespace-run-normalized, space-padded text — the shared
    base every stopword counts against. Whitespace runs become single spaces
    because extracted text is '\\n\\n'-block-joined (textnorm.BLOCK_JOINER):
    without it every stopword adjacent to a block boundary would score zero
    while still counting as a token, skewing quality ratios low.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.concat(F.lit(" "),
                    F.regexp_replace(F.lower(c), r"\s+", " "), F.lit(" "))


def _hits_on_padded(pad: Column, word: str) -> Column:
    """replace-length arithmetic: leftmost non-overlapping, exact integers."""
    pat = f" {word} "
    return ((F.length(pad) - F.length(F.replace(pad, F.lit(pat), F.lit(""))))
            / F.lit(len(pat))).cast("long")


def stopword_hits(col: Column | str, word: str) -> Column:
    """Occurrences of ``word`` as a whitespace-delimited token (lowercased)."""
    return _hits_on_padded(_norm_padded(col), word)


def stopword_hits_any(col: Column | str, words: list[str]) -> Column:
    """Total hits over ``words``, normalizing the text ONCE.

    Every term references the SAME padded-normalization expression tree, so
    whole-stage codegen's subexpression elimination evaluates the regexp
    normalization once per row instead of once per word (langid computes 4
    languages x 5 words against one text column — 20x otherwise; measured
    3x on q12 at sf0.1).
    """
    pad = _norm_padded(col)
    out = _hits_on_padded(pad, words[0])
    for w in words[1:]:
        out = out + _hits_on_padded(pad, w)
    return out


# ---------------------------------------------------------------------------
# quality signals
# ---------------------------------------------------------------------------

EN_STOPWORDS = ["the", "and", "of", "to", "in"]


# ---------------------------------------------------------------------------
# language identification (stopword-profile heuristic)
# ---------------------------------------------------------------------------

LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "les", "des", "est", "une"],
}


def langid_columns(text_col: str = "text") -> tuple[list[Column], Column]:
    """(per-language hit columns, predicted-language column).

    Deterministic argmax with fixed tie-break order en > es > de > fr.
    """
    hit_cols = [
        stopword_hits_any(text_col, ws).alias(f"hits_{lg}")
        for lg, ws in LANG_STOPWORDS.items()
    ]
    h = {lg: F.col(f"hits_{lg}") for lg in LANG_STOPWORDS}
    pred = (
        F.when(h["en"] + h["es"] + h["de"] + h["fr"] == 0, F.lit("unknown"))
        .when((h["en"] >= h["es"]) & (h["en"] >= h["de"]) & (h["en"] >= h["fr"]), F.lit("en"))
        .when((h["es"] >= h["de"]) & (h["es"] >= h["fr"]), F.lit("es"))
        .when(h["de"] >= h["fr"], F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return hit_cols, pred


# ---------------------------------------------------------------------------
# tokenization, BPE-ish
# ---------------------------------------------------------------------------

# GPT-2-style coarse token classes: letter runs, digit runs, single
# punctuation marks. Deliberately regex-engine-portable (no \w, no unicode
# classes) so Java regex (Spark) and RE2-ish (DuckDB) agree byte-for-byte.
BPEISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]"


def bpeish_token_count(col: Column | str = "text") -> Column:
    """Sub-word-ish token count: the unit LLM token budgeting actually wants
    (whitespace tokens undercount punctuation-heavy / code-like text)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPEISH_PATTERN), F.lit(0)))


# ---------------------------------------------------------------------------
# fingerprinting
# ---------------------------------------------------------------------------


def fingerprint(col: Column | str = "text") -> Column:
    """64-bit content fingerprint of whitespace-normalized lowercased text.

    The exact-dedup key at scale: group/join on this instead of shuffling
    full documents.
    """
    from .dedup import _norm_text  # the ONE normalization for fingerprints

    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(_norm_text(c))


def winnow_fingerprints(df: DataFrame, *, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        window: int = 4,
                        hash_fn: str = "xxhash64") -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every token k-gram, slide a window of ``window``
    consecutive hashes, keep each window's minimum, dedupe.

    Guarantees: any shared run of ``window + k - 1`` tokens between two docs
    yields at least one shared fingerprint — a position-robust partial-
    overlap detector (plagiarism/quote/mirror detection), complementing
    MinHash's whole-document similarity. (The classical presentation rolls a
    Karp-Rabin hash for CPU reasons; hashing each k-gram directly is
    fingerprint-equivalent, and here the hash is a single codegen'd
    expression — there is no per-character Python loop to optimize away.)

    Entirely JVM-side: one projection with nested array expressions, one
    explode; output (id, fp) pairs ready for a self-join on fp.
    ``hash_fn="md5_60"`` gives the DuckDB-reproducible variant (see
    webextract.dedup.HASH_FNS).
    """
    from .dedup import HASH_FNS

    if hash_fn == "xxhash64":
        hash_tpl = "xxhash64({G})"
    elif hash_fn == "md5_60":
        hash_tpl = "CAST(conv(substring(md5({G}), 1, 15), 16, 10) AS BIGINT)"
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}; have {list(HASH_FNS)}")
    # chained let-bindings (see repetition_df): tokens bound once (tt),
    # gram hashes bound once (h) — without them CollapseProject inlines the
    # split into every tt[i+j] AND the whole gram-hash array into every
    # slice() of the window minimum, re-hashing O(windows x grams) per row
    parts = ", ".join(f"tt[i + {j}]" for j in range(k))
    gram_hash = hash_tpl.format(G=f"concat_ws(chr(95), {parts})")
    grams_h = f"transform(sequence(0, size(tt) - {k}), i -> {gram_hash})"
    fps_body = (f"array_distinct(transform(sequence(0, size(h) - {window}), "
                f"j -> array_min(slice(h, j + 1, {window}))))")
    let_expr = (f"transform(array(t), tt -> transform(array({grams_h}), "
                f"h -> {fps_body})[0])[0]")
    toks = (
        df.filter(F.length(F.trim(text_col)) > 0)
        .select(F.col(id_col), F.split(F.trim(text_col), r"\s+").alias("t"))
        .filter(F.size("t") >= k + window - 1)
    )
    return toks.select(id_col, F.explode(F.expr(let_expr)).alias("fp"))


# ---------------------------------------------------------------------------
# Gopher/C4-style quality FILTER (the decision, not just the signals)
# ---------------------------------------------------------------------------


def quality_filter_columns(text_col: str = "text", *,
                           min_tokens: int = 5, max_tokens: int = 100_000,
                           min_mwl: int = 2, max_mwl: int = 12,
                           stop_ratio_denom: int | None = 50,
                           stopwords: list[str] | None = None
                           ) -> tuple[Column, Column, Column, Column]:
    """(n_tokens, n_nonspace_chars, stopword_hits, keep) — the Gopher-rule
    document filter a training-data pipeline applies after extraction:

    - token count within [min_tokens, max_tokens];
    - mean word length (non-space chars / tokens) within [min_mwl, max_mwl];
    - stopword ratio >= 1/stop_ratio_denom (gibberish/listing guard);
      pass ``stop_ratio_denom=None`` to drop this condition — it presumes
      the stopword list's language, so multilingual corpora either route
      per-language lists or disable it (webextract.pipeline.curate's
      default corpus is multilingual and disables it).

    Every threshold is evaluated with INTEGER cross-multiplication
    (``min_mwl * n_tokens <= n_nonspace`` etc.), so the keep decision is
    exact — no float boundary can flip between engines or partial-agg
    orders. All codegen'd column arithmetic; zero Python.
    """
    sw = stopwords or EN_STOPWORDS
    ntok = token_count(text_col).cast("long")
    nchar = F.length(F.regexp_replace(F.col(text_col), r"\s+", "")).cast("long")
    hits = stopword_hits_any(F.col(text_col), sw)
    keep = (
        (ntok >= min_tokens) & (ntok <= max_tokens)
        & (F.lit(min_mwl) * ntok <= nchar) & (nchar <= F.lit(max_mwl) * ntok)
    )
    if stop_ratio_denom is not None:
        keep = keep & (hits * stop_ratio_denom >= ntok)
    return ntok, nchar, hits, keep.cast("int")


# ---------------------------------------------------------------------------
# within-document repetition signals (Gopher repetition-removal family)
# ---------------------------------------------------------------------------


def repetition_columns(tok_col: str = "t", *, ns: tuple[int, ...] = (2, 3),
                       keep_n: int = 3, keep_num: int = 3, keep_den: int = 10,
                       ) -> tuple[list[Column], Column]:
    """Duplicate n-gram fractions WITHIN each document + the keep decision —
    the Gopher repetition-removal signals (boilerplate loops, SEO keyword
    stuffing, templated spam repeat the same n-grams inside one page).

    Operates on a token-array column named ``tok_col`` (build it once with
    ``split(trim(text), '\\s+')``; :func:`repetition_df` does). For each n
    in ``ns``: dup_frac_n = (#grams − #distinct grams) / #grams over the
    doc's token n-grams; docs with fewer than n tokens score 0. ``keep`` =
    dup_frac_{keep_n} ≤ keep_num/keep_den, decided by INTEGER
    cross-multiplication so the bit is exact in any engine.

    Scale shape: everything is nested array expressions inside one
    projection — per-row, zero shuffles, zero Python; the signals compute
    in the same scan that reads the text.
    """
    t = tok_col
    cols: list[Column] = [F.size(F.col(t)).cast("long").alias("n_tokens")]
    keep: Column | None = None
    for n in ns:
        parts = ", ".join(f"{t}[i + {j}]" for j in range(n))
        grams = (f"transform(sequence(0, size({t}) - {n}), "
                 f"i -> concat_ws(chr(95), {parts}))")
        g = F.expr(f"CASE WHEN size({t}) >= {n} THEN {grams} "
                   f"ELSE CAST(array() AS array<string>) END")
        total = F.size(g)
        n_dup = total - F.size(F.array_distinct(g))
        frac = F.when(total <= 0, F.lit(0.0)).otherwise(
            F.round(n_dup.cast("double") / total.cast("double"), 6))
        cols.append(n_dup.cast("long").alias(f"dup_{n}gram"))
        cols.append(frac.cast("double").alias(f"dup_{n}gram_frac"))
        if n == keep_n:
            keep = ((total <= 0)
                    | (n_dup * F.lit(keep_den) <= total * F.lit(keep_num)))
    if keep is None:
        raise ValueError(f"keep_n={keep_n} not in ns={ns}")
    return cols, keep.cast("int")


def _gram_col(tt: Column, n: int, sep: str = "_") -> Column:
    """Token n-gram array over a BOUND token-array column (empty when the
    doc has fewer than n tokens)."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(tt) - n),
        lambda i: F.concat_ws(sep, *[tt[i + j] for j in range(n)]))
    return F.when(F.size(tt) >= n, grams) \
            .otherwise(F.array().cast("array<string>"))


def gram_array(tokens: Column, n: int, sep: str = "_") -> Column:
    """LET-BOUND token n-gram array: evaluates ``tokens`` exactly once per
    row, however many times downstream lambdas index into it — the shared
    guard against the CollapseProject + interpreted-HOF inlining class
    (docs/PLANS.md round-4f; every gram-building operator routes through
    here or :func:`_gram_col`)."""
    return F.transform(F.array(tokens), lambda tt: _gram_col(tt, n, sep))[0]


def repetition_keep_expr(tokens: Column, *, keep_n: int = 3,
                         keep_num: int = 3, keep_den: int = 10) -> Column:
    """The Gopher repetition KEEP flag as one let-bound expression over a
    tokens column — the zero-cache form of :func:`repetition_columns`'s
    gate for use inside filters (pipeline.curate): tokens and the gram
    array each evaluate exactly once per row, no persist barrier needed.
    Values are identical to repetition_columns' keep (same integer
    cross-multiplication)."""
    def over_grams(gg: Column) -> Column:
        total = F.size(gg)
        dup = total - F.size(F.array_distinct(gg))
        return ((total <= 0)
                | (dup * F.lit(keep_den) <= total * F.lit(keep_num)))

    body = F.transform(
        F.array(tokens),
        lambda tt: F.transform(F.array(_gram_col(tt, keep_n)),
                               over_grams)[0])[0]
    return body.cast("int")


def repetition_df(df: DataFrame, *, id_col: str = "doc_id",
                  text_col: str = "text", ns: tuple[int, ...] = (2, 3),
                  keep_n: int = 3, keep_num: int = 3,
                  keep_den: int = 10) -> DataFrame:
    """Per-doc repetition signals + keep flag over ``df``.

    Evaluation structure matters here: higher-order-function lambdas do
    not codegen, and a Column referenced k times evaluates k times in
    interpreted mode — with a naive two-projection form CollapseProject
    inlines the split() into every per-gram array access (the text
    re-splits O(n_grams) times per row). So the computation is a CHAIN OF
    LET-BINDINGS via nested ``transform(array(x), v -> ...)``: tokens are
    bound once, each n-gram array is built once, the (total, dup) counts
    are reduced to bound ints, and the final output fields are cheap
    arithmetic over those ints. One ``inline`` generator emits the struct
    as columns in a single evaluation. Values are identical to
    :func:`repetition_columns` (the q39 oracle pins them).
    """
    t = F.trim(F.col(text_col))
    toks = F.when(F.length(t) == 0, F.array().cast("array<string>")) \
            .otherwise(F.split(t, r"\s+"))
    if keep_n not in ns:
        raise ValueError(f"keep_n={keep_n} not in ns={ns}")

    def stats(gs: Column) -> Column:  # bound gram struct -> bound int struct
        fields = [gs["ntok"].alias("ntok")]
        for n in ns:
            g = gs[f"g{n}"]
            fields.append(F.size(g).alias(f"t{n}"))
            fields.append((F.size(g) - F.size(F.array_distinct(g)))
                          .alias(f"d{n}"))
        return F.struct(*fields)

    def final(st: Column) -> Column:  # bound ints -> output fields
        out = [st["ntok"].cast("long").alias("n_tokens")]
        for n in ns:
            total, dup = st[f"t{n}"], st[f"d{n}"]
            out.append(dup.cast("long").alias(f"dup_{n}gram"))
            out.append(
                F.when(total <= 0, F.lit(0.0))
                .otherwise(F.round(dup.cast("double") / total.cast("double"),
                                   6))
                .cast("double").alias(f"dup_{n}gram_frac"))
        total, dup = st[f"t{keep_n}"], st[f"d{keep_n}"]
        keep = ((total <= 0)
                | (dup * F.lit(keep_den) <= total * F.lit(keep_num)))
        out.append(keep.cast("int").alias("keep_repetition"))
        return F.struct(*out)

    body = F.transform(
        F.array(toks),
        lambda tt: F.transform(
            F.array(F.struct(
                F.size(tt).alias("ntok"),
                *[_gram_col(tt, n).alias(f"g{n}") for n in ns])),
            lambda gs: F.transform(F.array(stats(gs)), final)[0])[0])
    return df.select(F.col(id_col), F.inline(body))


# ---------------------------------------------------------------------------
# vocabulary building: top-k terms per corpus slice
# ---------------------------------------------------------------------------


def top_terms(df: DataFrame, *, text_col: str = "text",
              group_col: str = "source", k: int = 5,
              lowercase: bool = True) -> DataFrame:
    """Top-k most frequent whitespace terms per group (ties broken by term,
    so the cut is total-ordered and reproducible) — vocabulary building /
    corpus-slice profiling for tokenizer training and drift monitoring.

    Scale shape: the explode is immediately collapsed by a hash aggregate
    with map-side partial combine (the shuffle carries (group, term, n)
    partials, never raw token streams), and the row_number window runs over
    DISTINCT (group, term) pairs — vocabulary-sized, not corpus-sized. A
    single pathological group is rescued by AQE skew split; k cuts the
    output before any driver involvement.
    """
    from pyspark.sql import Window

    t = F.trim(F.col(text_col))
    term = F.explode(F.split(F.lower(t) if lowercase else t, r"\s+"))
    toks = (df.filter(F.length(t) > 0)
              .select(F.col(group_col), term.alias("term"))
              .filter(F.length("term") > 0))
    counts = toks.groupBy(group_col, "term").agg(F.count("*").alias("n"))
    w = Window.partitionBy(group_col).orderBy(F.desc("n"), F.asc("term"))
    return (counts.withColumn("rnk", F.row_number().over(w))
                  .filter(F.col("rnk") <= k))


# ---------------------------------------------------------------------------
# PII redaction (training-data hygiene)
# ---------------------------------------------------------------------------

#: deliberately regex-engine-portable (no \w, \b, lookaround, or unicode
#: classes) so Java regex (Spark) and RE2 (DuckDB) match identically
EMAIL_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
PHONE_PATTERN = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

PII_RULES: list[tuple[str, str, str]] = [
    ("email", EMAIL_PATTERN, "<EMAIL>"),
    ("phone", PHONE_PATTERN, "<PHONE>"),
]


def pii_redact_columns(text_col: str = "text",
                       rules: list[tuple[str, str, str]] | None = None,
                       ) -> tuple[list[Column], Column]:
    """(per-rule match-count columns, fully-redacted text column) — the
    pre-training PII scrub (emails, phone numbers; extend ``rules`` with
    SSNs, IPs, keys as needed).

    Counts are taken BEFORE redaction; redaction applies rules in order on
    the running result. Everything is built-in regexp expressions — per-row,
    JVM-side, zero shuffles; the scrub runs inside the same scan/projection
    as the rest of the cleaning pipeline. Patterns avoid every construct
    where regex dialects diverge, so an independent engine reproduces the
    scrub byte-for-byte (q41's DuckDB oracle does).
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    rules = PII_RULES if rules is None else rules
    counts = [
        F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
         .cast("long").alias(f"n_{name}")
        for name, pat, _ in rules
    ]
    red = c
    for _, pat, repl in rules:
        red = F.regexp_replace(red, pat, repl)
    return counts, red


def pii_redact_df(df: DataFrame, *, id_col: str = "doc_id",
                  text_col: str = "text",
                  rules: list[tuple[str, str, str]] | None = None) -> DataFrame:
    counts, red = pii_redact_columns(text_col, rules)
    return df.select(F.col(id_col), *counts, red.alias("text_redacted"))


# ---------------------------------------------------------------------------
# KMV distinct-count sketch
# ---------------------------------------------------------------------------


def kmv_distinct(df: DataFrame, *, group_col: str, key: Column | str,
                 k: int = 64, include_exact: bool = False) -> DataFrame:
    """K-Minimum-Values distinct-count sketch per group (Bar-Yossef et al.):
    keep the k smallest distinct hash values; if fewer than k exist the
    count is exact, else estimate (k-1) / (kth_min / 2^60).

    Why KMV here and not HyperLogLog: the sketch is a PURE function of the
    hash — no randomized registers — so it is mergeable across partitions
    AND bit-reproducible in any engine (q48's DuckDB oracle recomputes the
    identical sketch; approx_count_distinct's HLL could never hash-match).
    Plan shape: map-side partial dedup of (group, hash), then
    WindowGroupLimit pre-trims every task to its local k smallest per group
    before the exchange — the shuffle carries at most k x |groups| x tasks
    hashes no matter the corpus size, which is the whole point of sketching.

    Returns (group_col, k_used, kth_min, est); ``include_exact=True`` adds
    ``n_exact`` — the full distinct count, which costs the very shuffle
    the sketch avoids (every distinct (group, hash) pair moves). It exists
    for verification (the q48 oracle compares estimate vs truth);
    production callers keep the default sketch-only plan.
    """
    from .dedup import HASH_FNS

    from pyspark.sql import Window

    c = F.col(key) if isinstance(key, str) else key
    fn, bits = HASH_FNS["md5_60"]
    h = fn(c.cast("string"))
    pairs = df.select(F.col(group_col), h.alias("h")).distinct()
    w = Window.partitionBy(group_col).orderBy(F.asc("h"))
    kept = (pairs.withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") <= k))
    sk = kept.groupBy(group_col).agg(
        F.max("h").alias("kth_min"), F.count("*").alias("k_used"))
    est = F.when(
        F.col("k_used") < k, F.col("k_used").cast("double")
    ).otherwise(
        F.round((F.lit(float(k - 1)) * F.pow(F.lit(2.0), F.lit(60.0)))
                / F.col("kth_min").cast("double"), 6))
    if not include_exact:
        return sk.select(group_col, "k_used", "kth_min",
                         est.cast("double").alias("est"))
    exact = pairs.groupBy(group_col).agg(F.count("*").alias("n_exact"))
    return (sk.join(exact, group_col)
              .select(group_col, "n_exact", "k_used", "kth_min",
                      est.cast("double").alias("est")))


# ---------------------------------------------------------------------------
# Count-Min sketch (frequency estimation)
# ---------------------------------------------------------------------------


def count_min_estimates(df: DataFrame, *, key_col: str, probes: DataFrame,
                        d: int = 4, w: int = 256) -> DataFrame:
    """Count-Min sketch frequency estimates (Cormode & Muthukrishnan):
    d x w counter grid, counter[i][h_i(key) % w] += 1 per occurrence;
    estimate(key) = min_i counter[i][h_i(key)] — an overestimate with error
    <= 2N/w at confidence 1 - (1/2)^d.

    The cardinality twin of :func:`kmv_distinct`: the sketch is a pure
    function of the hash (seeded md5_60 per row), so an independent engine
    rebuilds the identical grid and the identical estimates (q54's oracle
    does) — impossible for randomized-register sketches. Use at scale for
    frequency screens where the exact per-key group-by is the cost you're
    avoiding: stop-gram discovery, hot-url detection; the grid is d*w longs
    regardless of corpus size and merges by addition across partitions.

    Plan: one explode of each key occurrence into its d grid cells (cells
    are born distributed), one map-side-combined aggregate into <= d*w
    rows, broadcast join to the probe keys.

    ``probes``: a DataFrame with ``key_col`` — the keys to estimate.
    Returns (key_col, est) with est = the CMS estimate (>= true count).
    """
    from .dedup import HASH_FNS

    fn, _ = HASH_FNS["md5_60"]
    c = F.col(key_col)
    cells = df.select(F.explode(F.array(*[
        F.struct(F.lit(i).alias("i"),
                 F.pmod(fn(c, seed=i), F.lit(w)).alias("col"))
        for i in range(d)])).alias("cell"))
    grid = (cells.select("cell.i", "cell.col")
                 .groupBy("i", "col").agg(F.count("*").alias("cnt")))
    pc = F.col(key_col)
    probe_cells = probes.select(key_col, F.explode(F.array(*[
        F.struct(F.lit(i).alias("i"),
                 F.pmod(fn(pc, seed=i), F.lit(w)).alias("col"))
        for i in range(d)])).alias("cell")).select(key_col, "cell.i", "cell.col")
    return (probe_cells.join(F.broadcast(grid), ["i", "col"], "left")
            .groupBy(key_col)
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est")))


# ---------------------------------------------------------------------------
# bottom-k sample quantile sketch
# ---------------------------------------------------------------------------


def bottomk_quantiles(df: DataFrame, *, group_col: str, value_col: str,
                      id_col: str, k: int = 64,
                      permilles: tuple[int, ...] = (500, 900, 990)
                      ) -> DataFrame:
    """Mergeable QUANTILE sketch per group: a deterministic uniform row
    sample (the k rows with the smallest id-hash), exact quantiles of the
    sample — the third classic sketch family next to KMV (distinct count)
    and Count-Min (frequency).

    Why bottom-k-by-hash and not percentile_approx: the sample is a PURE
    function of the row ids — re-running, re-partitioning, or merging two
    groups' samples (take the k smallest hashes of the union) yields the
    identical sketch, and an independent engine reproduces it bit-for-bit
    (q64's DuckDB oracle does; percentile_approx's streaming GK summary is
    engine-internal and order-dependent). Same scale shape as kmv_distinct:
    WindowGroupLimit pre-trims every task to its local k smallest hashes
    per group before the exchange, so the shuffle carries at most
    k x |groups| x tasks rows at any corpus size.

    The quantile rule is exact-integer: the sample is sorted by
    (value, id) — a total order — and permille p picks index
    ((n_sample - 1) * p) div 1000. Returns (group, n_sample, p<p> ...).
    """
    from pyspark.sql import Window

    from .dedup import HASH_FNS

    fn, _ = HASH_FNS["md5_60"]
    h = fn(F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(F.asc("_h"), F.asc("_id"))
    sampled = (df.select(F.col(group_col), F.col(value_col).alias("_v"),
                         F.col(id_col).alias("_id"), h.alias("_h"))
               .withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") <= k).drop("_rn", "_h"))
    wv = Window.partitionBy(group_col).orderBy(F.asc("_v"), F.asc("_id"))
    # n_sample rides along as a whole-partition window count over the SAME
    # frame the rank uses — a separate aggregate + join would consume the
    # unpersisted sample twice and recompute the scan + sampling window
    wn = Window.partitionBy(group_col)
    ranked = (sampled.withColumn("_i", F.row_number().over(wv) - 1)
              .withColumn("n_sample", F.count("*").over(wn)))
    aggs = [F.max(F.when(
        F.col("_i") == F.expr(f"((n_sample - 1) * {p}) div 1000"),
        F.col("_v"))).alias(f"p{p}") for p in permilles]
    return (ranked.groupBy(group_col, "n_sample").agg(*aggs)
            .select(group_col, F.col("n_sample").cast("long").alias("n_sample"),
                    *[F.col(f"p{p}").cast("double") for p in permilles]))


# ---------------------------------------------------------------------------
# Bloom membership sketch
# ---------------------------------------------------------------------------


def bloom_bits(df: DataFrame, *, key: "Column | str", m: int = 4096,
               d: int = 5) -> DataFrame:
    """Build a Bloom filter as a TABLE of set bit positions — the membership
    sketch that completes the mergeable-structure family (KMV: distinct,
    Count-Min: frequency, bottom-k: quantiles, Bloom: membership).

    Use at scale as the cheap front-line of cross-crawl incremental dedup
    (dedup.dedup_against_index): probe today's batch against the Bloom bits
    of the historical fingerprint index — no false negatives, so a miss
    skips the exact anti-join entirely; only probable hits pay it. The bits
    table is ≤ m rows of one integer regardless of index size, merges by
    UNION (set-of-positions), and — built from the seeded md5_60 like the
    CMS grid — is bit-reproducible in any engine (q66's oracle).
    """
    c = F.col(key) if isinstance(key, str) else key
    pos = df.select(F.explode(_bloom_positions(c, m, d)).alias("pos"))
    return pos.distinct()


def _bloom_positions(c: Column, m: int, d: int) -> Column:
    """The d bit positions of one key — the SINGLE source of the hashing
    scheme shared by build and probe (drift between the two would silently
    break every probe). NULL keys normalize to a reserved sentinel so an
    indexed NULL still probes present — the no-false-negative contract
    holds for every key the build side saw, NULL included.
    """
    from .dedup import HASH_FNS

    fn, _ = HASH_FNS["md5_60"]
    k = F.coalesce(c.cast("string"), F.lit("\x00<NULL>"))
    return F.array(*[F.pmod(fn(k, seed=i), F.lit(m)) for i in range(d)])


def bloom_probe(df: DataFrame, bits: DataFrame, *, id_col: str,
                key: "Column | str", m: int = 4096, d: int = 5) -> DataFrame:
    """Probe rows against a :func:`bloom_bits` table: ``maybe_present`` = 1
    iff ALL d bit positions are set (never a false negative; false-positive
    rate ~ (set_bits/m)^d). One explode to d cells per row + one broadcast
    join — the bits side is ≤ m rows by construction."""
    c = F.col(key) if isinstance(key, str) else key
    cells = df.select(F.col(id_col),
                      F.explode(_bloom_positions(c, m, d)).alias("pos"))
    hit = bits.withColumn("_hit", F.lit(1))
    return (cells.join(F.broadcast(hit), "pos", "left")
            .groupBy(id_col)
            .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("_hits"))
            .select(id_col,
                    (F.col("_hits") == d).cast("int").alias("maybe_present")))
