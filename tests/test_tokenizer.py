"""Tokenizer spec tests + Spark/oracle parity (the #1 rank-identity risk)."""

import pytest

from lucene_spark.analysis import MAX_TOKEN_LENGTH, Analyzer, tokenize_text


CASES = [
    ("Hello World", ["hello", "world"]),
    ("", []),
    (None, []),
    ("The quick, brown fox!", ["the", "quick", "brown", "fox"]),
    ("ABC abc AbC", ["abc", "abc", "abc"]),
    ("don't stop", ["don't", "stop"]),
    ("3.14 and 1,000 items", ["3.14", "and", "1,000", "items"]),
    ("a.b c,d", ["a", "b", "c", "d"]),  # . and , only join digits
    ("x: y; (z)", ["x", "y", "z"]),
    ("42abc7 mix3d", ["42abc7", "mix3d"]),
    ("trailing'", ["trailing"]),
    ("'leading", ["leading"]),
    ("a''b", ["a", "b"]),  # double apostrophe is a break
    ("end.", ["end"]),
    ("1. 2", ["1", "2"]),
]


@pytest.mark.parametrize("text,expected", CASES)
def test_python_tokenizer(text, expected):
    assert tokenize_text(text) == expected


def test_long_token_chop():
    long = "x" * 300
    toks = tokenize_text(f"start {long} end")
    assert toks == ["start", "x" * MAX_TOKEN_LENGTH, "x" * 45, "end"]
    exact = "y" * MAX_TOKEN_LENGTH
    assert tokenize_text(exact) == [exact]
    assert tokenize_text("z" * 256) == ["z" * 255, "z"]


def _spark_tokens(col):
    """The executors' tokenize: the column form of the plain chain."""
    from pyspark.sql import functions as F

    return F.transform(Analyzer().analyze_column(col), lambda e: e["term"])


def test_spark_parity(spark):
    from pyspark.sql import functions as F

    texts = [t for t, _ in CASES if t is not None] + [
        "x" * 300,
        "start " + "x" * 300 + " end",
        "mixed PUNCT!?;:()\" and 123,456.789 don't",
        "a" * 255 + " " + "b" * 256,
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = df.select(_spark_tokens(F.col("text")).alias("toks")).collect()
    for t, row in zip(texts, got):
        assert row.toks == tokenize_text(t), f"mismatch for {t!r}"


def test_spark_null_and_random_parity(spark):
    import random

    from pyspark.sql import functions as F

    rng = random.Random(7)
    alphabet = "abc XYZ 012,.'!?;:()\" \t"
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 80)))
        for _ in range(300)
    ]
    df = spark.createDataFrame([(t,) for t in texts] + [(None,)], "text string")
    got = df.select("text", _spark_tokens(F.col("text")).alias("toks")).collect()
    for row in got:
        assert row.toks == tokenize_text(row.text), f"mismatch for {row.text!r}"


def test_uax29_url_email_vectors():
    """Ported TestUAX29URLEmailAnalyzer vectors inside the declared subset
    (testBasicEmails, testBasicURLs, the mailto 'MAILTO:Test@Example.ORG'
    row) — the analyzer chain lowercases, so expected tokens are the
    reference analyzer's (post-LowerCase) outputs."""
    from lucene_spark.analysis.tokenizer import tokenize_text

    assert tokenize_text(
        'one Test@example.com two three [A@example.CO.UK] '
        '"ArakaBanassaMassanaBakarA" <info@Info.info>',
        urls=True,
    ) == [
        "one", "test@example.com", "two", "three", "a@example.co.uk",
        "arakabanassamassanabakara", "info@info.info",
    ]
    assert tokenize_text(
        "a <HTTPs://example.net/omg/isnt/that/NICE?no=its&n%30t#mntl-E>b-D "
        "ftp://www.example.com/ABC.txt file:///C:/path/to/a/FILE.txt C",
        urls=True,
    ) == [
        "a",
        "https://example.net/omg/isnt/that/nice?no=its&n%30t#mntl-e",
        "b", "d",
        "ftp://www.example.com/abc.txt",
        "file:///c:/path/to/a/file.txt",
        "c",
    ]
    assert tokenize_text("MAILTO:Test@Example.ORG", urls=True) == [
        "mailto", "test@example.org",
    ]
    # plain mode unchanged: emails break on punctuation
    assert tokenize_text("Test@example.com") == ["test", "example", "com"]


def test_uax29_url_email_analyze_column_parity(spark):
    from pyspark.sql import functions as F

    from lucene_spark.analysis import Analyzer

    for kwargs in (
        dict(urls_emails=True),
        dict(urls_emails=True, stopwords=frozenset({"the", "a"})),
        dict(urls_emails=True, stemmer="s"),
    ):
        an = Analyzer(**kwargs)
        texts = [
            "the user test@example.com filed queries",
            "see https://spark.apache.org/docs?x=1&y=2 and ftp://host/a.txt",
            "plain words only",
            "",
            None,
        ]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        rows = df.select(an.analyze_column(F.col("text")).alias("e")).collect()
        for t, r in zip(texts, rows):
            got = sorted((x["term"], x["pos"]) for x in (r.e or []))
            want = sorted(an.analyze_text(t))
            assert got == want, (t, kwargs, got, want)
