"""Text functions — tokenization, k-grams, portable hashing, language-ID
heuristics, quality features. Every formula has a DuckDB-SQL twin (see
pdf_brain_spark/queries.py) for the correctness oracle.

The shared text and hash expressions are built without Python UDFs, by
one renderer each that writes the expression as a single Spark SQL
fragment (functions/sql.py) and hands it to one ``F.expr``. A Column tree
costs a py4j round trip per node, and every lambda ~10 more: the
lang-id/quality corpus filter took ~570 round trips to build that way
and takes 11 as fragments, which parse to the same expression tree.
An operand is a column name or a ``Fragment`` another renderer returned
(``tokenize_sql`` feeding ``shingles_sql`` is the common chain); a
``Fragment`` the caller writes itself is how a cast or a concat key
becomes an operand.

Portable hash: Spark's hash() is Murmur3 and DuckDB's hash() is
different — for cross-engine parity (and stable fingerprints across
engine versions at 100 TB re-runs) we derive integers from a prefix of
the md5 hex digest, which both engines compute identically. ``md5_long``
renders it, ``CAST(conv(substring(md5(x), 1, digits), 16, 10) AS
BIGINT)``, for each width in use: 15 hex digits (60 bits, the default:
fingerprints, KMV/CMS sketches, sampling draws), 8 (winnowing gram
hashes, A-ES uniforms), 7 (MinHash bases, so the affine map stays inside
int64) and 4 (split, shard and term buckets). DuckDB's twin is
``CAST(concat('0x', substr(md5(x), 1, digits)) AS BIGINT)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from pdf_brain_spark.functions.sql import Fragment, sql_ref


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokenize_sql(text: str) -> Fragment:
    """Lowercased whitespace tokens, empty-safe, of a column name or a
    `Fragment` (a plain str is quoted as one identifier). Twin SQL:
    list_filter(regexp_split_to_array(lower(trim(x)), '\\s+'), t -> t <> '')"""
    return Fragment(rf"filter(split(lower(trim({sql_ref(text)})), '\\s+'), x -> x != '')")


def tokenize(text: str) -> Column:
    return F.expr(tokenize_sql(text))


def md5_long_sql(x: str, digits: int = 15) -> Fragment:
    """Portable integer hash of a string column name or `Fragment`: the
    first `digits` hex digits of md5, as BIGINT. Twin SQL:
    CAST(concat('0x', substr(md5(x), 1, digits)) AS BIGINT)"""
    return Fragment(f"CAST(conv(substring(md5({sql_ref(x)}), 1, {digits}), 16, 10) AS BIGINT)")


def md5_long(x: str, digits: int = 15) -> Column:
    return F.expr(md5_long_sql(x, digits))


def token_count(text: str) -> Column:
    return F.expr(f"size({tokenize_sql(text)})")


def subword_token_count(text: Column | str) -> Column:
    """BPE-ish token estimate: words and punctuation marks counted as
    separate tokens (`\\w+|[^\\w\\s]`) — the cheap approximation of an LLM
    tokenizer's behavior for budget accounting. Twin SQL:
    len(regexp_extract_all(x, '\\w+|[^\\w\\s]'))."""
    return F.size(F.regexp_extract_all(_c(text), F.lit(r"\w+|[^\w\s]"), F.lit(0)))


def _punct_ratio_sql(text: str) -> str:
    t = sql_ref(text)
    return (
        f"try_divide(CAST(length({t}) - length(regexp_replace({t}, '[.!?,;:]', '')) AS DOUBLE),"
        f" length({t}))"
    )


def punct_ratio(text: str) -> Column:
    """Fraction of characters that are sentence punctuation; NULL for
    empty text, as DuckDB's `/` returns for a zero divisor."""
    return F.expr(_punct_ratio_sql(text))


# Stopword table for the n-gram/stopword language heuristic. Small fixed
# sets so the scoring expression stays a pure codegen'd filter+size.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "des", "un", "une", "dans", "que"],
    "es": ["el", "los", "las", "es", "y", "un", "una", "en", "del", "por"],
}


def _stopword_hits_sql(tokens: str, lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return f"size(filter({sql_ref(tokens)}, x -> x IN ({words})))"


def stopword_hits(tokens: str, lang: str) -> Column:
    """Number of `lang` stopwords in a token-array column name or
    `Fragment`."""
    return F.expr(_stopword_hits_sql(tokens, lang))


def lang_id(text: str) -> Column:
    """Heuristic language ID: CJK presence wins, else argmax stopword hits
    with fixed precedence en > de > fr > es, else 'unknown'."""
    t, toks = sql_ref(text), tokenize_sql(text)
    cjk = f"length({t}) - length(regexp_replace({t}, '[一-鿿]', ''))"
    en, de, fr, es = (_stopword_hits_sql(toks, lang) for lang in ("en", "de", "fr", "es"))
    # the parser balances a chain of four ANDs; the parentheses keep it
    # left-deep, as `&` builds it
    return F.expr(
        f"CASE WHEN {cjk} > 0 THEN 'zh'"
        f" WHEN ({en} >= {de} AND {en} >= {fr} AND {en} >= {es}) AND {en} > 0 THEN 'en'"
        f" WHEN {de} >= {fr} AND {de} >= {es} AND {de} > 0 THEN 'de'"
        f" WHEN {fr} >= {es} AND {fr} > 0 THEN 'fr'"
        f" WHEN {es} > 0 THEN 'es'"
        " ELSE 'unknown' END"
    )


def quality_score(text: str) -> Column:
    """Composite document-quality score in [0,1]: length factor × mean-word-
    length sanity × (1 - punctuation excess) × stopword presence. The exact
    formula is arbitrary but deterministic; it mirrors the
    length/punct/stopword ratio features used for LLM-corpus filtering.
    Empty text scores 0.0 (its NULL punctuation ratio drops out of least)."""
    toks = tokenize_sql(text)
    n_tok = f"CAST(size({toks}) AS DOUBLE)"
    n_chars = f"CAST(length({sql_ref(text)}) AS DOUBLE)"
    avg_wlen = f"CASE WHEN {n_tok} > 0 THEN {n_chars} / {n_tok} ELSE 0.0D END"
    len_factor = f"least({n_tok} / 100.0D, 1.0D)"
    wlen_factor = f"CASE WHEN {avg_wlen} >= 3.0D AND {avg_wlen} <= 12.0D THEN 1.0D ELSE 0.5D END"
    punct_factor = f"1.0D - least(({_punct_ratio_sql(text)}) * 5.0D, 1.0D)"
    stop_factor = f"CASE WHEN {_stopword_hits_sql(toks, 'en')} > 0 THEN 1.0D ELSE 0.7D END"
    return F.expr(f"{len_factor} * {wlen_factor} * ({punct_factor}) * {stop_factor}")


def kgrams_sql(tokens: str, k: int) -> Fragment:
    """Positional k-grams of a token-array column name or `Fragment`:
    element i is tokens i..i+k-1 joined by single spaces, NULL where the
    gram would run past the end — so a posexplode index is the 0-based
    start position.

    Built by zip_with over k shifted slices of the array (portable to
    DuckDB's 1-based list indexing without slice-semantics mismatches).
    Why not element_at(tokens, i+j) inside a transform lambda: Spark
    re-evaluates non-lambda-bound subtrees per lambda invocation, so with
    `tokens = tokenize_sql(text)` inline that shape re-runs the regex
    split O(positions × k) times per row. zip_with references `tokens`
    only at row level (concat propagates NULL past the array end)."""
    tokens = sql_ref(tokens)
    out = tokens
    for j in range(1, k):
        shifted = f"slice({tokens}, {j + 1}, greatest(size({tokens}) - {j}, 0))"
        out = f"zip_with({out}, {shifted}, (a, b) -> concat(a, ' ', b))"
    return Fragment(out)


def shingles_sql(tokens: str, k: int = 3) -> Fragment:
    """The k-gram shingles of a token-array column name or `Fragment`
    (compose with tokenize_sql for the text→k-gram chain): kgrams_sql
    with the trailing NULL partial grams dropped."""
    return Fragment(f"filter({kgrams_sql(tokens, k)}, x -> x IS NOT NULL)")


def shingles(tokens: str, k: int = 3) -> Column:
    return F.expr(shingles_sql(tokens, k))


def doc_fingerprint(text: str, k: int = 3) -> Column:
    """Deterministic document fingerprint: min md5-derived 60-bit hash over
    k-gram shingles (order-independent content fingerprint; the rolling-hash
    analog of the reference's sha-prefix doc ids, src/index.ts:111-114)."""
    sh = shingles_sql(tokenize_sql(text), k)
    return F.expr(f"array_min(transform({sh}, s -> {md5_long_sql(Fragment('s'))}))")


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


def rater_raw_cols(text: str = "text") -> list[Column]:
    """The three exact-integer columns every rater-family gate derives
    from: _sl = 1000·Σ token lengths, _td = 1e6·distinct-token count,
    _nt = max(token count, 1). Downstream: mean word length milli =
    _sl div _nt; type-token ratio ppm = _td div _nt (integer div on
    positive operands — truncation == floor == DuckDB //)."""
    toks = tokenize_sql(text)
    sum_len = f"CAST(aggregate(transform({toks}, t -> length(t)), 0, (a, x) -> a + x) AS BIGINT)"
    return [
        F.expr(f"{sum_len} * 1000 AS _sl"),
        F.expr(f"CAST(size(array_distinct({toks})) AS BIGINT) * 1000000 AS _td"),
        F.expr(f"CAST(greatest(size({toks}), 1) AS BIGINT) AS _nt"),
    ]
