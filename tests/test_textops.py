"""Goldens for the deterministic text layer (input_hint invariant) and the
text-analysis scalars."""

from __future__ import annotations

from jcrawler_spark.functions import textops


def test_extract_text_strips_tags_and_scripts():
    html = (
        "<html><head><title>T</title><style>p{color:red}</style>"
        "<script>var x=1;</script></head>"
        "<body><h1>Hello</h1><p>world &amp; peace</p>"
        "<!-- comment --><div>again</div></body></html>"
    )
    assert textops.extract_text(html) == "T\nHello\nworld & peace\nagain"


def test_extract_text_whitespace_normalization():
    assert textops.extract_text("<p>a   b</p>\n\n\n<p>c</p>") == "a b\nc"


def test_extract_text_deterministic():
    html = "<body><p>x &lt;3 y</p></body>"
    assert textops.extract_text(html) == textops.extract_text(html) == "x <3 y"


def test_tokenize_bpe_ish():
    assert textops.tokenize("Hello, world! v2.0") == [
        "Hello", ",", "world", "!", "v2", ".", "0",
    ]
    assert textops.token_count("a b") == 2
    assert textops.whitespace_token_count("a  b\tc") == 3


def test_lang_id():
    assert textops.lang_id("the cat and the dog of the town") == "en"
    assert textops.lang_id("aceasta este pentru noi și pentru voi din nou") == "ro"
    assert textops.lang_id("xyzzy plugh") == "und"


def test_quality_score_bounds_and_order():
    good = ("the quick brown fox and the lazy dog " * 20).strip()
    bad = "@@@@ #### $$$$"
    assert 0.0 <= textops.quality_score(bad) < textops.quality_score(good) <= 1.0
    assert textops.quality_score("") == 0.0


def test_fingerprint_properties():
    a = textops.doc_fingerprint("the quick brown fox jumps over the lazy dog")
    b = textops.doc_fingerprint("the quick brown fox jumps over the lazy dog")
    c = textops.doc_fingerprint("a completely different document body here")
    assert a == b
    assert a != c
    assert -(1 << 63) <= a < (1 << 63)  # signed 64-bit for BIGINT parity


def test_fnv1a64_golden():
    # standard FNV-1a vectors
    assert textops.fnv1a64("") == 0xCBF29CE484222325
    assert textops.fnv1a64("a") == 0xAF63DC4C8601EC8C


def test_column_forms_match_python(spark):
    from pyspark.sql import functions as F

    rows = [
        ("the cat and the dog of the town went to the well",),
        ("aceasta este pentru noi și pentru voi din nou la masă",),
        ("xyzzy plugh !!",),
        ("",),
    ]
    df = spark.createDataFrame(rows, ["text"])
    got = df.select(
        "text",
        textops.lang_id_col(F.col("text")).alias("lang"),
        textops.token_count_col(F.col("text")).alias("ntok"),
        textops.quality_score_col(F.col("text")).alias("q"),
    ).collect()
    for r in got:
        assert r["lang"] == textops.lang_id(r["text"])
        assert r["ntok"] == textops.token_count(r["text"])
        assert abs(r["q"] - textops.quality_score(r["text"])) < 1e-9


# ---------------------------------------------------------------------------
# round 5: repetition signals + PII scrub — pure-twin goldens & properties
# ---------------------------------------------------------------------------


def test_dup_line_frac_pure():
    assert textops.dup_line_frac("a\nb\na") == 1 / 3
    assert textops.dup_line_frac("a\nb\nc") == 0.0
    assert textops.dup_line_frac("") == 0.0
    assert textops.dup_line_frac("\n \n") == 0.0  # only empty lines
    assert textops.dup_line_frac("x\nx\nx\nx") == 0.75


def test_dup_line_char_frac_pure():
    # 'aa' dup (2+2 chars), 'bbb' unique (3) -> 4/7
    assert abs(textops.dup_line_char_frac("aa\nbbb\naa") - 4 / 7) < 1e-12
    assert textops.dup_line_char_frac("x") == 0.0
    assert textops.dup_line_char_frac("") == 0.0


def test_top_bigram_frac_pure():
    # grams: 'a b','b a','a b' -> top 2/3
    assert abs(textops.top_bigram_frac("a b a b") - 2 / 3) < 1e-12
    assert textops.top_bigram_frac("one") == 0.0
    assert textops.top_bigram_frac("") == 0.0
    assert textops.top_bigram_frac("A B a b") == textops.top_bigram_frac(
        "a b a b"
    )  # lower-cased


def test_pii_scrub_pure():
    t, ne, np_ = textops.pii_scrub(
        "mail bob.smith+x@corp.example.com or call +40 (721) 555-0042 now"
    )
    assert ne == 1 and np_ == 1
    assert "<EMAIL>" in t and "<PHONE>" in t
    assert "bob" not in t and "0042" not in t


def test_pii_scrub_email_digits_not_phones():
    # the long digit run lives inside the email -> redacted as EMAIL first
    t, ne, np_ = textops.pii_scrub("reach 123456789012@digits.example.org ok")
    assert ne == 1 and np_ == 0
    assert t == "reach <EMAIL> ok"


def test_repetition_cols_match_pure(spark):
    import pyspark.sql.functions as F

    texts = [
        "a\nb\na",
        "aa\nbbb\naa",
        "",
        "\n \n",
        "x\nx\nx\nx",
        "one two one two three\nsame line\nsame line",
        "word " * 50,
        "unique lines\nonly here\nno repeats at all",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    rows = df.select(
        "i",
        textops.dup_line_frac_col(F.col("t")).alias("dlf"),
        textops.dup_line_char_frac_col(F.col("t")).alias("dlcf"),
        textops.top_bigram_frac_col(F.col("t")).alias("tbf"),
    ).collect()
    for r in rows:
        t = texts[r["i"]]
        assert abs(r["dlf"] - textops.dup_line_frac(t)) < 1e-9, t
        assert abs(r["dlcf"] - textops.dup_line_char_frac(t)) < 1e-9, t
        assert abs(r["tbf"] - textops.top_bigram_frac(t)) < 1e-9, t


def test_pii_cols_match_pure(spark):
    import pyspark.sql.functions as F

    texts = [
        "mail a@b.io and c.d+e@f-g.example.com, call +1 415 555 2671 x9",
        "no pii here at all",
        "digits 123456789012@digits.example.org only",
        "two phones: 0721 555 0042 and (030) 1234-5678 done",
        "",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    rows = df.select(
        "i",
        textops.email_count_col(F.col("t")).alias("ne"),
        textops.phone_count_col(F.col("t")).alias("np"),
        textops.pii_scrub_col(F.col("t")).alias("scrub"),
    ).collect()
    for r in rows:
        scrub, ne, np_ = textops.pii_scrub(texts[r["i"]])
        assert r["ne"] == ne and r["np"] == np_, texts[r["i"]]
        assert r["scrub"] == scrub, texts[r["i"]]


# ---------------------------------------------------------------------------
# round 5: Gopher quality rules — pure goldens + Column parity
# ---------------------------------------------------------------------------


def test_gopher_stats_pure():
    s = textops.gopher_stats("• one\n• two\nthe end is near ...")
    assert s["bullet_frac"] == 2 / 3
    assert s["ellipsis_frac"] == 1 / 3
    assert s["stop_hits"] == 1  # only 'the'
    assert s["word_count"] == 9
    # empty text: all-zero, never passes
    z = textops.gopher_stats("")
    assert all(v == 0 for v in z.values())
    assert not textops.gopher_pass("")


def test_gopher_pass_pure_rules_fire():
    good = (
        "the quick brown fox jumps over that lazy dog and we have fun "
        "with words of many kinds to be sure today " * 3
    )
    assert textops.gopher_pass(good)
    # word-count floor
    assert not textops.gopher_pass("the and that have with to be of")
    # symbol spam
    assert not textops.gopher_pass(good + " #" * 40)
    # repetition: one dominating bigram
    assert not textops.gopher_pass(
        "the of and that have with to be " + "spam spam " * 120
    )


def test_gopher_cols_match_pure(spark):
    import pyspark.sql.functions as F

    texts = [
        "",
        "the and that have with plenty of words to be here " * 6,
        "• a\n• b\n• c\nthe end",
        "dots everywhere ... \nmore dots...\nand the rest…",
        "# # symbols # the # of # ratio # high #",
        "x" * 400,
        "the be to of and that have with " * 10,
        "short doc",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, t string"
    )
    cols = textops.gopher_stats_cols(F.col("t"))
    rows = df.select(
        "i",
        *[c.alias(k) for k, c in cols.items()],
        textops.gopher_pass_col(F.col("t")).alias("p"),
    ).collect()
    for r in rows:
        want = textops.gopher_stats(texts[r["i"]])
        for k, v in want.items():
            if isinstance(v, float):
                assert abs(r[k] - v) < 1e-9, (k, texts[r["i"]])
            else:
                assert r[k] == v, (k, texts[r["i"]])
        assert r["p"] == textops.gopher_pass(texts[r["i"]]), texts[r["i"]]


def test_whitespace_parity_adversarial(spark):
    """Round-5 review fix: the pure twins must mirror the Column forms on
    NON-space whitespace — Java \\s is ASCII-only and F.trim strips spaces
    only, while Python's str.split()/strip() are Unicode-wide. Tab-only
    lines, NBSP-joined words, vertical tabs and CRLF all hit the gap."""
    import pyspark.sql.functions as F

    texts = [
        "a b c\n\t\na b c",          # tab-only line (the verified repro)
        "x\xa0y x\xa0y z",           # NBSP-joined words
        "\tthe cat\x0bsat \r\non the mat\t",
        "the cat the cat", # thin space (Unicode-only ws)
        " \t \n\xa0\n",
        "• one\n\t\n• two\nthe end is near ...",
        "the and that have with plenty\xa0of words to be here " * 4,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, t string"
    )
    g = textops.gopher_stats_cols(F.col("t"))
    rows = df.select(
        "i",
        textops.dup_line_frac_col(F.col("t")).alias("dlf"),
        textops.dup_line_char_frac_col(F.col("t")).alias("dlcf"),
        textops.top_bigram_frac_col(F.col("t")).alias("tbf"),
        textops.lang_id_col(F.col("t")).alias("lang"),
        textops.quality_score_col(F.col("t")).alias("q"),
        textops.whitespace_token_count_col(F.col("t")).alias("wtc"),
        textops.gopher_pass_col(F.col("t")).alias("gp"),
        *[c.alias(f"g_{k}") for k, c in g.items()],
    ).collect()
    for r in rows:
        t = texts[r["i"]]
        assert abs(r["dlf"] - textops.dup_line_frac(t)) < 1e-9, repr(t)
        assert abs(r["dlcf"] - textops.dup_line_char_frac(t)) < 1e-9, repr(t)
        assert abs(r["tbf"] - textops.top_bigram_frac(t)) < 1e-9, repr(t)
        assert r["lang"] == textops.lang_id(t), repr(t)
        assert abs(r["q"] - textops.quality_score(t)) < 1e-9, repr(t)
        assert r["wtc"] == textops.whitespace_token_count(t), repr(t)
        assert r["gp"] == textops.gopher_pass(t), repr(t)
        want = textops.gopher_stats(t)
        for k, v in want.items():
            if isinstance(v, float):
                assert abs(r[f"g_{k}"] - v) < 1e-9, (k, repr(t))
            else:
                assert r[f"g_{k}"] == v, (k, repr(t))


def test_ngram_repetition_cols_match_pure(spark):
    """Full Gopher Table-A1 n-gram rows (round 5): the nine Column
    signals mirror the pure twins; the verdict equals the pure
    composite. The signals are selected two-layer (raw cols, then
    thresholds over column REFS) — combining all nine heavy lambda
    trees with the composite in ONE projection list sends Catalyst
    super-linear (see textops.word_ngrams_col's note)."""
    import pyspark.sql.functions as F

    texts = [
        "",
        "one",
        "spam spam spam ham",
        "a b c d e a b c d e x",
        "the quick brown fox jumps over the lazy dog and then the "
        "quick brown fox jumps again today",
        "x y " * 40,
        "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 t",
        "uniq" + " filler" * 12,
        "a\tb\na b\xa0c the the the the",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, t string"
    )
    cols = textops.ngram_repetition_cols(F.col("t"))
    raw = df.select("i", *[c.alias(k) for k, c in cols.items()])
    for r in raw.collect():
        s = texts[r["i"]]
        for n in textops.GOPHER_TOP_NGRAM_MAX:
            assert abs(r[f"top{n}_frac"] - textops.top_ngram_char_frac(s, n)) < 1e-9, (n, repr(s))
        for n in textops.GOPHER_DUP_NGRAM_MAX:
            assert abs(r[f"dup{n}_frac"] - textops.dup_ngram_char_frac(s, n)) < 1e-9, (n, repr(s))
    # the composite Column verdict, driven on a small frame of its own
    small = ["spam spam spam ham", "a b c d e a b c d e x",
             "the quick brown fox and that have with " * 6]
    sdf = spark.createDataFrame([(i, t) for i, t in enumerate(small)], "i int, t string")
    got = {r["i"]: r["fp"] for r in sdf.select(
        "i", textops.gopher_full_pass_col(F.col("t")).alias("fp")).collect()}
    for i, s in enumerate(small):
        assert got[i] == textops.gopher_full_pass(s), repr(s)


def test_ngram_repetition_pure_goldens():
    # top: 'spam spam' occurs 2x, charlen 8, total 15 -> 16/15 (sup form
    # can exceed 1 under self-overlap; gating unaffected)
    assert abs(textops.top_ngram_char_frac("spam spam spam ham", 2) - 16 / 15) < 1e-12
    # dup 5-grams: 'a b c d e' repeats, covering 10 of 11 chars
    assert abs(textops.dup_ngram_char_frac("a b c d e a b c d e x", 5) - 10 / 11) < 1e-12
    # below n words -> 0.0
    assert textops.top_ngram_char_frac("one two", 3) == 0.0
    assert textops.dup_ngram_char_frac("one two three", 5) == 0.0
    assert textops.top_ngram_char_frac("", 2) == 0.0
    # full pass: a genuinely NON-repetitive 60+-word text passes; the old
    # gopher_pass golden (one sentence repeated x3) correctly FAILS the
    # n-gram table (dup10 covers nearly every char) while still clearing
    # the document-level rules — exactly the gap Table A1 closes
    good = " ".join(f"word{i}" for i in range(60)) + " the and of that have"
    assert textops.gopher_full_pass(good)
    repeated = ("the quick brown fox jumps over that lazy dog and we have "
                "fun with words of many kinds to be sure today " * 3)
    assert textops.gopher_pass(repeated)
    assert not textops.gopher_full_pass(repeated)
    assert not textops.gopher_full_pass(good + " spam spam " * 60)
