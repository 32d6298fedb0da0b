"""Text functions — tokenization, portable hashing, language-ID heuristics,
quality features. All built from native pyspark.sql.functions so they run
JVM-side under WholeStageCodegen, and every formula has a DuckDB-SQL twin
(see pdf_brain_spark/queries.py) for the correctness oracle.

Portable hash: Spark's hash() is Murmur3 and DuckDB's hash() is different —
for cross-engine parity (and stable fingerprints across engine versions at
100 TB re-runs) we derive 60-bit integers from md5 hex, which both engines
compute identically: ``conv(substr(md5(s), 1, 15), 16, 10)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from pdf_brain_spark.functions.sql import Fragment, sql_ref


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokenize_sql(col: str) -> Fragment:
    """Spark-SQL FRAGMENT twin of tokenize() for a column name or a
    `Fragment` (a plain str is quoted as one identifier). r17 (guide §7.3): building these chains as strings parsed
    JVM-side by F.expr/selectExpr instead of python-lambda Column trees
    cuts the py4j chatter that dominated gate plan-construction time
    (one `docs.select(tokenize("text"))` measured 0.24 s to CONSTRUCT vs
    0.04 s via expr — the resolved plan is identical, pinned by
    tests/test_r17_optimizations.py)."""
    return Fragment(rf"filter(split(lower(trim({sql_ref(col)})), '\\s+'), x -> x != '')")


def tokenize(text: Column | str) -> Column:
    """Lowercased whitespace tokens, empty-safe. Twin SQL:
    list_filter(regexp_split_to_array(lower(trim(x)), '\\s+'), t -> t <> '')

    A str argument is rendered through tokenize_sql (one JVM parse); a
    Column argument keeps the Column construction — identical resolved
    expressions either way."""
    if isinstance(text, str):
        return F.expr(tokenize_sql(text))
    t = F.split(F.lower(F.trim(text)), r"\s+")
    return F.filter(t, lambda x: x != "")


def md5_long(s: Column | str) -> Column:
    """Portable 60-bit integer hash. Twin SQL:
    CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)"""
    return F.conv(F.substring(F.md5(_c(s)), 1, 15), 16, 10).cast("long")


def token_count(text: Column | str) -> Column:
    return F.size(tokenize(text))


def subword_token_count(text: Column | str) -> Column:
    """BPE-ish token estimate: words and punctuation marks counted as
    separate tokens (`\\w+|[^\\w\\s]`) — the cheap approximation of an LLM
    tokenizer's behavior for budget accounting. Twin SQL:
    len(regexp_extract_all(x, '\\w+|[^\\w\\s]'))."""
    return F.size(F.regexp_extract_all(_c(text), F.lit(r"\w+|[^\w\s]"), F.lit(0)))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are sentence punctuation."""
    t = _c(text)
    stripped = F.regexp_replace(t, r"[.!?,;:]", "")
    return (F.length(t) - F.length(stripped)).cast("double") / F.length(t)


# Stopword table for the n-gram/stopword language heuristic. Small fixed
# sets so the scoring expression stays a pure codegen'd filter+size.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "des", "un", "une", "dans", "que"],
    "es": ["el", "los", "las", "es", "y", "un", "una", "en", "del", "por"],
}


def stopword_hits(tokens: Column, lang: str) -> Column:
    words = LANG_STOPWORDS[lang]
    return F.size(F.filter(tokens, lambda x: x.isin(*words)))


def cjk_chars(text: Column | str) -> Column:
    """Count of CJK characters (zh detection)."""
    t = _c(text)
    return F.length(t) - F.length(F.regexp_replace(t, r"[一-鿿]", ""))


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: CJK presence wins, else argmax stopword hits
    with fixed precedence en > de > fr > es, else 'unknown'."""
    toks = tokenize(text)
    en, de = stopword_hits(toks, "en"), stopword_hits(toks, "de")
    fr, es = stopword_hits(toks, "fr"), stopword_hits(toks, "es")
    return (
        F.when(cjk_chars(text) > 0, F.lit("zh"))
        .when((en >= de) & (en >= fr) & (en >= es) & (en > 0), F.lit("en"))
        .when((de >= fr) & (de >= es) & (de > 0), F.lit("de"))
        .when((fr >= es) & (fr > 0), F.lit("fr"))
        .when(es > 0, F.lit("es"))
        .otherwise(F.lit("unknown"))
    )


def quality_score(text: Column | str) -> Column:
    """Composite document-quality score in [0,1]: length factor × mean-word-
    length sanity × (1 - punctuation excess) × stopword presence. The exact
    formula is arbitrary but deterministic; it mirrors the
    length/punct/stopword ratio features used for LLM-corpus filtering."""
    toks = tokenize(text)
    n_tok = F.size(toks).cast("double")
    n_chars = F.length(_c(text)).cast("double")
    avg_wlen = F.when(n_tok > 0, n_chars / n_tok).otherwise(F.lit(0.0))
    len_factor = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    wlen_factor = F.when((avg_wlen >= 3.0) & (avg_wlen <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_factor = F.lit(1.0) - F.least(punct_ratio(text) * 5.0, F.lit(1.0))
    stop_factor = F.when(stopword_hits(toks, "en") > 0, F.lit(1.0)).otherwise(F.lit(0.7))
    return len_factor * wlen_factor * punct_factor * stop_factor


def shingles_sql(tokens: str, k: int = 3) -> Fragment:
    """Spark-SQL FRAGMENT twin of shingles() over a token-array column
    name or a `Fragment` (compose with tokenize_sql for the full
    text→k-gram chain in one JVM parse). The fragment duplicates the
    `tokens` subtree exactly as the Column form's expression tree did,
    so the resolved plan is unchanged."""
    tokens = sql_ref(tokens)
    out = tokens
    for j in range(1, k):
        shifted = f"slice({tokens}, {j + 1}, greatest(size({tokens}) - {j}, 0))"
        out = f"zip_with({out}, {shifted}, (a, b) -> concat(a, ' ', b))"
    return Fragment(f"filter({out}, x -> x IS NOT NULL)")


def shingles(tokens: Column | str, k: int = 3) -> Column:
    """k-gram shingles via zip_with over k shifted slices of the token
    array (portable to DuckDB's 1-based list indexing without
    slice-semantics mismatches).

    Why not element_at(tokens, i+j) inside a transform lambda: Spark
    re-evaluates non-lambda-bound subtrees per lambda invocation, so with
    `tokens = tokenize(text)` inline that shape re-runs the regex split
    O(positions × k) times per row. zip_with references `tokens` only at
    row level. Trailing partial shingles become null (concat propagates
    null past the array end) and are filtered.

    A str argument is a token-array column name or SQL FRAGMENT (usually
    tokenize_sql(...)) rendered through shingles_sql — one JVM parse
    instead of k+1 python-lambda conversions (r17, guide §7.3);
    identical resolved expressions either way."""
    if isinstance(tokens, str):
        return F.expr(shingles_sql(tokens, k))
    n = F.size(tokens)
    out = tokens
    for j in range(1, k):
        shifted = F.slice(tokens, j + 1, F.greatest(n - j, F.lit(0)))
        out = F.zip_with(out, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.filter(out, lambda x: x.isNotNull())


def doc_fingerprint(text: Column | str, k: int = 3) -> Column:
    """Deterministic document fingerprint: min md5-derived 60-bit hash over
    k-gram shingles (order-independent content fingerprint; the rolling-hash
    analog of the reference's sha-prefix doc ids, src/index.ts:111-114)."""
    sh = (
        shingles(tokenize_sql(text), k)
        if isinstance(text, str)
        else shingles(tokenize(text), k)
    )
    hashed = F.transform(sh, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"))
    return F.array_min(hashed)


def sha12_id(s: Column | str) -> Column:
    """Reference document id: first 12 hex chars of sha256
    (src/index.ts:111-114)."""
    return F.substring(F.sha2(_c(s), 256), 1, 12)


def clean_title(filename: Column | str) -> Column:
    """Title cleanup chain (reference AutoTagger.ts:394-424): strip
    extension, URL-decode spaces, separators → space, drop year-paren
    metadata, collapse whitespace. Pure regexp_replace chain — codegen'd,
    byte-exact oracle parity."""
    t = F.regexp_replace(_c(filename), r"\.(pdf|md|markdown|txt)$", "")
    t = F.regexp_replace(t, r"%20", " ")
    t = F.regexp_replace(t, r"[_\-\.]+", " ")
    t = F.regexp_replace(t, r"\((19|20)\d{2}\)", "")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def extract_author(filename: Column | str) -> Column:
    """Author extraction (reference AutoTagger.ts:260-264,429-437): first
    match across the pattern battery — 'by X', '(X)', trailing '- X'."""
    f = _c(filename)
    return F.coalesce(
        F.nullif(F.regexp_extract(f, r"[bB]y[_ ]+([A-Za-z]+)", 1), F.lit("")),
        F.nullif(F.regexp_extract(f, r"\(([A-Za-z]+)\)", 1), F.lit("")),
        F.nullif(F.regexp_extract(f, r"- ([A-Za-z]+)$", 1), F.lit("")),
    )


def normalize_tag(tag: Column | str) -> Column:
    """Reference tag normalization (AutoTagger.ts:383-389): lowercase,
    non-alphanumeric → '-', squeeze repeats, strip leading/trailing dashes."""
    t = F.lower(_c(tag))
    t = F.regexp_replace(t, r"[^a-z0-9]+", "-")
    return F.regexp_replace(t, r"^-+|-+$", "")


# Shared document-quality rater signals (rater_agreement_kappa /
# mcnemar_rater_bias / isotonic_quality_calibration). Hoisted after the
# session-2 review found three byte-identical private copies — the same
# lockstep-by-convention failure class the r10 review fixed for
# quantized_d2. The thresholds are corpus-probed (balanced marginals at
# all three scales; see the kappa gate's docstring).
RATER_MWL_MILLI_THRESHOLD = 4500
RATER_TTR_PPM_THRESHOLD = 450000


def rater_raw_cols(text: Column | str = "text") -> list[Column]:
    """The three exact-integer columns every rater-family gate derives
    from: _sl = 1000·Σ token lengths, _td = 1e6·distinct-token count,
    _nt = max(token count, 1). Downstream: mean word length milli =
    _sl div _nt; type-token ratio ppm = _td div _nt (integer div on
    positive operands — truncation == floor == DuckDB //)."""
    toks = tokenize(text)
    n_tok = F.greatest(F.size(toks), F.lit(1)).cast("long")
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    ).cast("long")
    return [
        (1000 * sum_len).alias("_sl"),
        (1000000 * F.size(F.array_distinct(toks)).cast("long")).alias("_td"),
        n_tok.alias("_nt"),
    ]
