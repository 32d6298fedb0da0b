"""The SQL-fragment text and hash expressions (functions/text.py): the
optimized plan of each primitive and call-site form equals the Column
construction it replaced, the empty-text behavior, golden positional
k-grams, the py4j cost of building the batch text filter, and a source
guard that keeps the portable md5-prefix hash in one place.

The Column constructions below are the former implementations, verbatim,
held here as the reference shapes.
"""

from __future__ import annotations

import gc
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from pdf_brain_spark.functions.sql import Fragment
from pdf_brain_spark.functions.text import (
    LANG_STOPWORDS,
    doc_fingerprint,
    kgrams_sql,
    lang_id,
    md5_long,
    md5_long_sql,
    punct_ratio,
    quality_score,
    rater_raw_cols,
    shingles,
    stopword_hits,
    token_count,
    tokenize,
    tokenize_sql,
)

TEXTS = [
    "The quick brown Fox  jumps over the lazy dog.",
    "",
    "   ",
    None,
    "der die das und, ist nicht!",
    "x  y\tz\nw",
    "中文 text",
]


def _canon_plan(df) -> str:
    """Optimized plan text with expression ids and lambda-variable names
    renumbered by first appearance."""
    s = df._jdf.queryExecution().optimizedPlan().toString()
    ids: dict[tuple[str, str], str] = {}
    s = re.sub(
        r"lambda (\w+)#(\d+)",
        lambda m: "lambda " + ids.setdefault(("l", m.group(2)), f"v{len(ids)}"),
        s,
    )
    return re.sub(r"#(\d+)", lambda m: "#" + ids.setdefault(("e", m.group(1)), f"{len(ids)}"), s)


def _assert_same_plan(got, want):
    """The plan text pins the tree's shape; Catalyst's canonical form
    (sameResult) also compares what the text leaves out, such as an
    arithmetic node's eval mode, but flattens AND chains."""
    assert _canon_plan(got) == _canon_plan(want)
    assert got._jdf.queryExecution().optimizedPlan().sameResult(
        want._jdf.queryExecution().optimizedPlan()
    )


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, t, i * 7, ["a b c", "b c d"], (i, f"g{i}"), i + 1, f"t{i}")
        for i, t in enumerate(TEXTS)
    ]
    return spark.createDataFrame(
        rows,
        "doc_id long, text string, user_id long, sh_set array<string>, "
        "g struct<pos:int,gram:string>, rep int, term string",
    )


# --- verbatim Column constructions -----------------------------------------


def _tok_old(text):
    return F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda x: x != "")


def _kgrams_old(toks, k):
    n = F.size(toks)
    out = toks
    for j in range(1, k):
        shifted = F.slice(toks, j + 1, F.greatest(n - j, F.lit(0)))
        out = F.zip_with(out, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return out


def _shingles_old(toks, k):
    return F.filter(_kgrams_old(toks, k), lambda x: x.isNotNull())


def _md5_old(c, digits):
    return F.conv(F.substring(F.md5(c), 1, digits), 16, 10)


def _stop_old(toks, lang):
    return F.size(F.filter(toks, lambda x: x.isin(*LANG_STOPWORDS[lang])))


def _punct_old(t):
    # the one intended change: try_divide (NULL on empty text) in place of /
    stripped = F.regexp_replace(t, r"[.!?,;:]", "")
    return F.try_divide((F.length(t) - F.length(stripped)).cast("double"), F.length(t))


def _lang_old(t):
    toks = _tok_old(t)
    en, de = _stop_old(toks, "en"), _stop_old(toks, "de")
    fr, es = _stop_old(toks, "fr"), _stop_old(toks, "es")
    cjk = F.length(t) - F.length(F.regexp_replace(t, r"[一-鿿]", ""))
    return (
        F.when(cjk > 0, F.lit("zh"))
        .when((en >= de) & (en >= fr) & (en >= es) & (en > 0), F.lit("en"))
        .when((de >= fr) & (de >= es) & (de > 0), F.lit("de"))
        .when((fr >= es) & (fr > 0), F.lit("fr"))
        .when(es > 0, F.lit("es"))
        .otherwise(F.lit("unknown"))
    )


def _quality_old(t):
    toks = _tok_old(t)
    n_tok = F.size(toks).cast("double")
    n_chars = F.length(t).cast("double")
    avg_wlen = F.when(n_tok > 0, n_chars / n_tok).otherwise(F.lit(0.0))
    len_factor = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    wlen_factor = F.when((avg_wlen >= 3.0) & (avg_wlen <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_factor = F.lit(1.0) - F.least(_punct_old(t) * 5.0, F.lit(1.0))
    stop_factor = F.when(_stop_old(toks, "en") > 0, F.lit(1.0)).otherwise(F.lit(0.7))
    return len_factor * wlen_factor * punct_factor * stop_factor


def _rater_old(t):
    toks = _tok_old(t)
    n_tok = F.greatest(F.size(toks), F.lit(1)).cast("long")
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    ).cast("long")
    return [
        (1000 * sum_len).alias("_sl"),
        (1000000 * F.size(F.array_distinct(toks)).cast("long")).alias("_td"),
        n_tok.alias("_nt"),
    ]


def _id_str_old():
    return F.col("doc_id").cast("string")


ID_STR = Fragment("CAST(doc_id AS STRING)")

# (name, fragment-built columns, verbatim Column-built columns)
CASES = [
    ("tokenize", lambda: [tokenize("text")], lambda: [_tok_old(F.col("text"))]),
    ("token_count", lambda: [token_count("text")], lambda: [F.size(_tok_old(F.col("text")))]),
    *[
        (
            f"shingles_k{k}",
            lambda k=k: [shingles(tokenize_sql("text"), k)],
            lambda k=k: [_shingles_old(_tok_old(F.col("text")), k)],
        )
        for k in (2, 3, 5)
    ],
    (
        "shingles_of_token_column",
        lambda: [shingles("sh_set", 2)],
        lambda: [_shingles_old(F.col("sh_set"), 2)],
    ),
    (
        "duplicate_spans_kgrams",
        lambda: [
            F.posexplode(F.expr(kgrams_sql(tokenize_sql("text"), 8))).alias("pos", "gram")
        ],
        lambda: [F.posexplode(_kgrams_old(_tok_old(F.col("text")), 8)).alias("pos", "gram")],
    ),
    *[
        (
            f"stopword_hits_{lang}",
            lambda lang=lang: [stopword_hits(tokenize_sql("text"), lang)],
            lambda lang=lang: [_stop_old(_tok_old(F.col("text")), lang)],
        )
        for lang in LANG_STOPWORDS
    ],
    ("lang_id", lambda: [lang_id("text")], lambda: [_lang_old(F.col("text"))]),
    ("punct_ratio", lambda: [punct_ratio("text")], lambda: [_punct_old(F.col("text"))]),
    ("quality_score", lambda: [quality_score("text")], lambda: [_quality_old(F.col("text"))]),
    (
        "doc_fingerprint",
        lambda: [doc_fingerprint("text")],
        lambda: [
            F.array_min(
                F.transform(
                    _shingles_old(_tok_old(F.col("text")), 3),
                    lambda s: _md5_old(s, 15).cast("long"),
                )
            )
        ],
    ),
    ("rater_raw_cols", lambda: rater_raw_cols("text"), lambda: _rater_old(F.col("text"))),
    # md5_long at each width and operand form its call sites use
    ("md5_long_name", lambda: [md5_long("term")], lambda: [_md5_old(F.col("term"), 15).cast("long")]),
    (
        "md5_long_cast_draw",
        lambda: [md5_long(ID_STR) % F.lit(1_000_000)],
        lambda: [_md5_old(_id_str_old(), 15).cast("long") % F.lit(1_000_000)],
    ),
    (
        "md5_long_split_bucket",
        lambda: [md5_long(ID_STR, 4) % 100],
        lambda: [_md5_old(_id_str_old(), 4).cast("long") % 100],
    ),
    (
        "md5_long_aes_uniform",
        lambda: [md5_long(ID_STR, 8) % 1000000 + 1],
        lambda: [(_md5_old(_id_str_old(), 8).cast("long") % 1000000) + 1],
    ),
    (
        "md5_long_winnow_gram",
        lambda: [md5_long(Fragment("g.gram"), 8)],
        lambda: [_md5_old("g.gram", 8).cast("long")],
    ),
    (
        "md5_long_concat_key",
        lambda: [md5_long(Fragment("concat(CAST(rep AS STRING), '#', term)"))],
        lambda: [
            _md5_old(F.concat(F.col("rep").cast("string"), F.lit("#"), F.col("term")), 15)
            .cast("long")
        ],
    ),
    (
        "md5_long_concat_ws_draw",
        lambda: [md5_long(Fragment("concat_ws('_', doc_id, rep)"), 8) % F.lit(1000000)],
        lambda: [
            _md5_old(F.concat_ws("_", "doc_id", "rep"), 8).cast("long") % F.lit(1000000)
        ],
    ),
    (
        "minhash_bases",
        lambda: [F.expr(f"transform(sh_set, s -> {md5_long_sql(Fragment('s'), 7)})")],
        lambda: [F.transform(F.col("sh_set"), lambda s: _md5_old(s, 7).cast("long"))],
    ),
]


@pytest.mark.parametrize("name,new,old", CASES, ids=[c[0] for c in CASES])
def test_fragment_plan_matches_column_form(docs, name, new, old):
    got = docs.select("doc_id", *new())
    want = docs.select("doc_id", *old())
    _assert_same_plan(got, want)
    assert sorted(map(tuple, got.collect()), key=str) == sorted(map(tuple, want.collect()), key=str)


def test_batch_text_filter_plan_matches_column_form(docs):
    """The benchmark's batch filter, end to end."""
    got = docs.filter((lang_id("text") != "unknown") & (quality_score("text") >= 0.1))
    want = docs.filter((_lang_old(F.col("text")) != "unknown") & (_quality_old(F.col("text")) >= 0.1))
    _assert_same_plan(got, want)


def test_term_bucket_matches_driver_twin(spark):
    """The streaming FTS term bucket (4 hex digits as int, mod buckets)
    agrees with its driver-side twin; NULL terms (the doc-grain rows)
    land in FTS_DOC_BUCKET."""
    from pdf_brain_spark.streaming.events import (
        FTS_DOC_BUCKET,
        _term_bucket_col,
        portable_term_bucket,
    )

    terms = ["alpha", "zeta", "", "中文", "x y"]
    df = spark.createDataFrame([(t,) for t in terms] + [(None,)], "term string")
    rows = df.select("term", _term_bucket_col("term", 64).alias("b")).collect()
    assert df.select(_term_bucket_col("term", 64)).schema[0].dataType.simpleString() == "int"
    assert {r["term"]: r["b"] for r in rows} == {
        **{t: portable_term_bucket(t, 64) for t in terms},
        None: FTS_DOC_BUCKET,
    }


# --- degenerate text -------------------------------------------------------


def test_text_features_on_empty_blank_and_null_text(spark):
    """'' and NULL no longer divide by zero (ANSI mode raised
    DIVIDE_BY_ZERO): punct_ratio is NULL there, as DuckDB's twin
    returns, and quality_score('') is 0.0."""
    import duckdb

    texts = ["", "   ", None, "Hello, world. This is it!"]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    rows = (
        df.orderBy("doc_id")
        .select(
            punct_ratio("text").alias("p"),
            quality_score("text").alias("q"),
            lang_id("text").alias("l"),
            token_count("text").alias("n"),
            doc_fingerprint("text").alias("f"),
            *rater_raw_cols("text"),
        )
        .collect()
    )
    # text_stats' oracle expression for punct_ratio
    duck = duckdb.sql(
        "SELECT CAST(length(t) - length(regexp_replace(t, '[.!?,;:]', '', 'g')) AS DOUBLE)"
        " / length(t) FROM (VALUES (0, ''), (1, '   '), (2, NULL),"
        " (3, 'Hello, world. This is it!')) v(i, t) ORDER BY i"
    ).fetchall()
    assert [r["p"] for r in rows] == [d[0] for d in duck] == [None, 0.0, None, 3 / 25]
    assert [r["q"] for r in rows][:3] == [0.0, 0.0, 0.0]
    assert 0.0 < rows[3]["q"] <= 1.0
    assert [r["l"] for r in rows] == ["unknown", "unknown", "unknown", "en"]
    assert [r["n"] for r in rows] == [0, 0, None, 5]
    assert [r["f"] for r in rows][:3] == [None, None, None]
    assert rows[3]["f"] is not None
    assert [(r["_sl"], r["_td"], r["_nt"]) for r in rows] == [
        (0, 0, 1),
        (0, 0, 1),
        (None, None, 1),
        (21000, 5000000, 5),
    ]


# --- positional k-grams ----------------------------------------------------


def test_positional_kgrams_golden(spark):
    texts = ["", "a b", "a b c", "a\tb\nc  d"]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r["doc_id"]: r["g"]
        for r in df.select("doc_id", F.expr(kgrams_sql(tokenize_sql("text"), 3)).alias("g")).collect()
    }
    assert got == {
        0: [],
        1: [None, None],
        2: ["a b c", None, None],
        3: ["a b c", "b c d", None, None],
    }


def test_duplicate_spans_edge_texts_golden(spark):
    """Empty and shorter-than-k texts carry no grams; an exactly-k text is
    one gram at position 0; tabs and newlines separate tokens."""
    from pdf_brain_spark.operators.dedup import duplicate_spans

    texts = ["", "a b", "a b c", "a\tb\nc  d"]
    rows = [(i, t) for i, t in enumerate(texts)] + [(10 + i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in duplicate_spans(df, k=3, min_docs=2).collect())
    assert got == [
        (2, 0, 2, 3, 1),
        (3, 0, 3, 4, 2),
        (12, 0, 2, 3, 1),
        (13, 0, 3, 4, 2),
    ]


# --- driver cost and source guard ------------------------------------------


def test_batch_text_filter_chatter_guard(spark, docs):
    """Building the batch text filter stays a handful of gateway round
    trips: 11 measured; the Column-tree form made ~570."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = 0

    def counting_send(*args, **kwargs):
        nonlocal calls
        calls += 1
        return send(*args, **kwargs)

    # py4j releases collected JavaObjects with commands of its own; keep
    # the collector from sending them while the count runs.
    gc.collect()
    gc.disable()
    client.send_command = counting_send
    try:
        docs.filter((lang_id("text") != "unknown") & (quality_score("text") >= 0.1))
    finally:
        del client.send_command
        gc.enable()
    assert calls <= 20, calls


def test_md5_prefix_hash_built_only_by_md5_long():
    pkg = pathlib.Path(__file__).resolve().parents[1] / "pdf_brain_spark"
    offenders = [
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if p.relative_to(pkg).as_posix() != "functions/text.py"
        and ("F.conv(F.substring(F.md5(" in p.read_text() or "conv(substring(md5(" in p.read_text())
    ]
    assert offenders == []


def test_minhash_signatures_exprstr_matches_lambda_form(spark):
    """The selectExpr string form of minhash_signatures_from_sets must
    reproduce the former python-lambda Column construction exactly."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pdf_brain_spark.operators.dedup import (
        MINHASH_HASHES,
        MINHASH_PRIME,
        _minhash_coeffs,
        minhash_signatures_from_sets,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "sh_set": [
                ["a b c", "b c d", "c d e"],
                ["a b c"],
                ["x y z", "y z w"],
                ["q r s", "r s t", "s t u", "t u v"],
            ],
        }
    )
    sets = spark.createDataFrame(pdf, "doc_id long, sh_set array<string>")

    # verbatim pre-r17 construction
    bases = F.transform(
        F.col("sh_set"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long"),
    )
    d = sets.select(F.col("doc_id"), bases.alias("_bases"))
    def _affine(a, b):
        return lambda x: (x * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)

    cols = []
    for j in range(MINHASH_HASHES):
        a, b = _minhash_coeffs(j)
        cols.append(
            F.array_min(
                F.transform(F.col("_bases"), _affine(a, b))
            ).alias(f"h{j}")
        )
    want = sorted(tuple(r) for r in d.select("doc_id", *cols).collect())
    got = sorted(tuple(r) for r in minhash_signatures_from_sets(sets).collect())
    assert got == want


def test_tokenize_shingles_sql_fragments_match_lambda_forms(spark):
    """tokenize()/shingles() built via SQL fragments (tokenize_sql /
    shingles_sql, r17 §7.3 py4j-chatter fix) must reproduce the verbatim
    python-lambda Column constructions exactly, across k values and edge
    texts (empty, whitespace-only, < k tokens, trailing whitespace)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pdf_brain_spark.functions.text import (
        shingles,
        tokenize,
        tokenize_sql,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": list(range(7)),
            "text": [
                "The quick brown Fox  jumps over the lazy dog",
                "",
                "   ",
                "one",
                "a b",
                "x  y\tz\nw",
                "  trailing space  ",
            ],
        }
    )
    docs = spark.createDataFrame(pdf, "doc_id long, text string")

    # verbatim pre-r17 constructions
    t = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    tok_old = F.filter(t, lambda x: x != "")
    for k in (2, 3, 5):
        n = F.size(tok_old)
        out = tok_old
        for j in range(1, k):
            shifted = F.slice(tok_old, j + 1, F.greatest(n - j, F.lit(0)))
            out = F.zip_with(
                out, shifted, lambda a, b: F.concat(a, F.lit(" "), b)
            )
        sh_old = F.filter(out, lambda x: x.isNotNull())
        want = [
            tuple(r)
            for r in docs.select(
                "doc_id", tok_old.alias("t"), sh_old.alias("s")
            )
            .orderBy("doc_id")
            .collect()
        ]
        got = [
            tuple(r)
            for r in docs.select(
                "doc_id",
                tokenize("text").alias("t"),
                shingles(tokenize_sql("text"), k).alias("s"),
            )
            .orderBy("doc_id")
            .collect()
        ]
        assert got == want, f"k={k}"
