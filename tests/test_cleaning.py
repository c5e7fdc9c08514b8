"""C4 cleaning rules (functions/c4.py) + corpus-wide quality operators
(operators/quality.py). Exact portability of the composed queries is
covered by the `c4_filter` / `ccnet_bucket` / `decontaminate` /
`cross_dup_spans` / `source_stats` oracles; these pin the rule-level
goldens, pure≡Column parity, and the operator-level scale contracts."""

from __future__ import annotations

import math

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from jcrawler_spark.functions import c4
from jcrawler_spark.operators import quality

# ---------------------------------------------------------------------------
# C4 rule goldens (Raffel et al. §2.2 semantics)
# ---------------------------------------------------------------------------


def test_c4_line_rules_goldens():
    assert c4.line_kept("This line ends with a period.")
    assert c4.line_kept("Does it keep questions? yes it does?")
    assert c4.line_kept('He said "stop".')
    assert c4.line_kept('A quoted ending line"')
    assert not c4.line_kept("no terminal punctuation here")
    assert not c4.line_kept("Too few.")  # 2 words
    assert not c4.line_kept("Enable JavaScript to view this.")
    assert not c4.line_kept("Uses javascript everywhere today.")
    assert not c4.line_kept("")
    assert not c4.line_kept("   ")
    # trailing spaces are trimmed before the terminal check
    assert c4.line_kept("Trailing spaces still count here.   ")


def test_c4_clean_and_sentences():
    text = (
        "A good first sentence here.\n"
        "dropped no punctuation\n"
        "Second kept line! With two marks?\n"
        "short.\n"
    )
    cleaned = c4.c4_clean(text)
    assert cleaned == (
        "A good first sentence here.\nSecond kept line! With two marks?"
    )
    assert c4.sentence_count(cleaned) == 3


def test_c4_page_rules():
    five = "\n".join(f"This is kept sentence number {i}." for i in range(5))
    four = "\n".join(f"This is kept sentence number {i}." for i in range(4))
    assert c4.c4_page_pass(five)
    assert not c4.c4_page_pass(four)  # < 5 sentences
    assert not c4.c4_page_pass(five + "\nsome Lorem Ipsum filler")
    assert not c4.c4_page_pass(five + "\nfunction() { return 1; }")
    assert not c4.c4_page_pass(five + "\nan unsafeword appears")
    # banned words match as whole tokens, not substrings
    assert c4.c4_page_pass(five + "\nan unsafewording appears")


# U+00A0 (no-break space) is whitespace to Python's \s but not to Java's:
# it joins two words in both forms
_TEXTS = st.text(
    alphabet=st.sampled_from(list("ab .!?\"'\n\t{jJavScript\u00a0")),
    max_size=120,
)


@settings(max_examples=60, deadline=None)
@given(st.lists(_TEXTS, min_size=1, max_size=8))
@example(["one\u00a0two three.", "a\u00a0b c d.\n" * 5, "\u00a0 x y z!"])
def test_c4_pure_column_parity(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    stats = c4.c4_stats_cols(F.col("text"))
    rows = df.select(
        "text",
        stats["c4_cleaned"].alias("cleaned"),
        stats["c4_kept_lines"].alias("kept"),
        stats["c4_sentences"].alias("sents"),
        stats["c4_pass"].alias("ok"),
    ).collect()
    for r in rows:
        assert r["cleaned"] == c4.c4_clean(r["text"])
        assert r["kept"] == len(c4.clean_lines(r["text"]))
        assert r["sents"] == c4.sentence_count(c4.c4_clean(r["text"]))
        assert r["ok"] == c4.c4_page_pass(r["text"])


def test_c4_plan_is_map_only(spark):
    df = spark.range(10).select(F.col("id").cast("string").alias("text"))
    plan = df.select(
        c4.c4_page_pass_col(F.col("text"))
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# CCNet unigram-LM bucketing
# ---------------------------------------------------------------------------


def _corpus(spark):
    # 3 "fluent" docs of common words, 3 of rare words, 2 mixed, 1 empty
    rows = [
        (0, "the the the cat", "s0", "en"),
        (1, "the cat the cat", "s0", "en"),
        (2, "the the cat cat", "s1", "en"),
        (3, "zyx wvu tsr qpo", "s1", "ro"),
        (4, "nml kji hgf edc", "s0", "ro"),
        (5, "ba zz yy xx", "s1", "en"),
        (6, "the cat zyx wvu", "s0", "en"),
        (7, "the the zz xx", "s1", "ro"),
        (8, "", "s0", "en"),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string"
    )


def test_unigram_logprobs_match_hand_model(spark):
    docs = _corpus(spark)
    out = {
        r["doc_id"]: r
        for r in quality.unigram_logprobs(docs).collect()
    }
    # hand-build the same unigram LM
    toks = []
    for r in docs.collect():
        toks += [w for w in r["text"].lower().split() if w]
    total = len(toks)
    cnt: dict[str, int] = {}
    for t in toks:
        cnt[t] = cnt.get(t, 0) + 1
    for r in docs.collect():
        ws = [w for w in r["text"].lower().split() if w]
        got = out[r["doc_id"]]
        assert got["n_tokens"] == len(ws)
        if not ws:
            assert got["mean_logprob"] is None
        else:
            want = sum(math.log(cnt[w] / total) for w in ws) / len(ws)
            assert math.isclose(got["mean_logprob"], want, rel_tol=1e-9)


def test_ccnet_buckets_order_and_empty_doc(spark):
    docs = _corpus(spark)
    rows = {r["doc_id"]: r for r in quality.ccnet_buckets(docs).collect()}
    assert rows[8]["bucket"] == "tail"  # empty doc
    # common-word docs must not rank below rare-word docs
    order = {"tail": 0, "middle": 1, "head": 2}
    for fluent in (0, 1, 2):
        for rare in (3, 4):
            assert (
                order[rows[fluent]["bucket"]] >= order[rows[rare]["bucket"]]
            )
    # every bucket value is legal and each non-null mean is finite
    for r in rows.values():
        assert r["bucket"] in order
        if r["mean_logprob"] is not None:
            assert r["mean_logprob"] < 0.0
    # approx mode agrees with exact on this tiny corpus
    approx = {
        r["doc_id"]: r["bucket"]
        for r in quality.ccnet_buckets(docs, rel_err=0.001).collect()
    }
    assert approx[8] == "tail"


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------


def test_contamination_flags(spark):
    bench = spark.createDataFrame(
        [("alpha beta gamma delta epsilon",)], "text string"
    )
    docs = spark.createDataFrame(
        [
            (0, "xx alpha beta gamma delta epsilon yy"),  # contains a 5-gram
            (1, "alpha beta gamma delta DIFFERENT"),  # only a 4-gram overlap
            (2, "totally unrelated words here now"),
            (3, "Alpha Beta Gamma Delta Epsilon"),  # case-folded hit
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["contaminated"]
        for r in quality.contamination_flags(docs, bench, n=5).collect()
    }
    assert out == {0: True, 1: False, 2: False, 3: True}


def test_contamination_benchmark_side_is_broadcast(spark):
    bench = spark.createDataFrame([("a b c d e",)], "text string")
    docs = spark.createDataFrame([(0, "a b c d e f")], "doc_id long, text string")
    plan = (
        quality.contamination_flags(docs, bench, n=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# cross-document duplicated n-gram rate
# ---------------------------------------------------------------------------


def test_cross_dup_ngram_stats(spark):
    shared = "one two three four"
    docs = spark.createDataFrame(
        [
            (0, f"{shared} unique0a unique0b"),
            (1, f"prefix1 {shared} suffix1"),
            (2, "no overlap at all here"),
            (3, "tiny"),  # < n tokens
            # intra-doc repetition of a gram unique to this doc: NOT cross-dup
            (4, "rep rep rep rep rep rep rep rep"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in quality.cross_dup_ngram_stats(docs, n=4).collect()
    }
    assert out[3]["n_grams"] == 0 and out[3]["dup_frac"] == 0.0
    assert out[2]["dup_frac"] == 0.0
    assert out[4]["dup_frac"] == 0.0  # intra-doc only
    # doc0: grams = 3 starts, 1 of which ("one two three four") is shared
    assert out[0]["n_grams"] == 3
    assert math.isclose(out[0]["dup_frac"], 1 / 3)
    assert out[1]["n_grams"] == 3
    assert math.isclose(out[1]["dup_frac"], 1 / 3)


# ---------------------------------------------------------------------------
# per-source roll-up
# ---------------------------------------------------------------------------


def test_source_stats(spark):
    docs = _corpus(spark)
    out = {r["source"]: r for r in quality.source_stats(docs).collect()}
    assert out["s0"]["n_docs"] == 5 and out["s1"]["n_docs"] == 4
    assert out["s0"]["total_tokens"] == 16  # 4+4+4+4+0
    assert out["s1"]["total_tokens"] == 16
    assert out["s0"]["en_frac"] == 0.8  # 4 of 5
    assert out["s1"]["en_frac"] == 0.5
    assert 0.0 <= out["s0"]["avg_quality"] <= 1.0


# ---------------------------------------------------------------------------
# cross-document duplicated-span REMOVAL (first-occurrence-wins)
# ---------------------------------------------------------------------------


def test_remove_cross_dup_spans_first_occurrence_wins(spark):
    shared = "s1 s2 s3 s4"  # a full 4-gram shared by docs 0, 1, 2
    docs = spark.createDataFrame(
        [
            (0, f"a0 b0 {shared} c0"),
            (1, f"{shared} tail1 tail2"),
            (2, f"x2 {shared}"),
            (3, "unique words only here"),
            (4, "tiny doc"),  # < n tokens: untouched
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in quality.remove_cross_dup_spans(docs, n=4).collect()
    }
    # doc 0 owns the first occurrence of every duplicated gram it holds
    assert out[0]["clean_text"] == f"a0 b0 {shared} c0"
    assert out[0]["n_removed"] == 0
    # doc 1: the shared 4-gram at pos 1 is a duplicate -> s1..s4 removed;
    # grams overlapping tail1/tail2 are unique to doc 1, so tails survive
    assert out[1]["clean_text"] == "tail1 tail2"
    assert out[1]["n_removed"] == 4
    assert out[1]["n_tokens"] == 6
    # doc 2: only the trailing shared gram is duplicated
    assert out[2]["clean_text"] == "x2"
    assert out[2]["n_removed"] == 4
    # untouched docs
    assert out[3]["n_removed"] == 0
    assert out[3]["clean_text"] == "unique words only here"
    assert out[4]["clean_text"] == "tiny doc"
    assert out[4]["n_tokens"] == 2


def test_remove_cross_dup_spans_full_removal_keeps_counts(spark):
    # doc 1 is exactly one duplicated 3-gram: everything goes, but the
    # token accounting must still report the original length
    docs = spark.createDataFrame(
        [(0, "p q r trailing"), (1, "p q r")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in quality.remove_cross_dup_spans(docs, n=3).collect()
    }
    assert out[1]["clean_text"] == ""
    assert out[1]["n_tokens"] == 3
    assert out[1]["n_removed"] == 3
    assert out[0]["n_removed"] == 0


def test_remove_cross_dup_spans_preserves_case_and_intra_doc(spark):
    # intra-doc repetition of a doc-unique gram: second occurrence IS
    # removed (it has a prior occurrence — position-ordered within the
    # doc), matching Lee et al.'s "all but one" globally
    docs = spark.createDataFrame(
        [(0, "A B C pad A B C")],
        "doc_id long, text string",
    )
    out = quality.remove_cross_dup_spans(docs, n=3).collect()[0]
    assert out["clean_text"].startswith("A B C")  # original case kept
    assert out["n_removed"] == 3


def test_c4_trailing_space_golden(spark):
    """Pinned Hypothesis counterexample: F.trim handed to transform()
    received (element, index) — index "0" became the trim set and the
    trailing space survived, dropping a line the pure form keeps."""
    df = spark.createDataFrame([("? ? ? ",), ("1 a b c. 1",)], "text string")
    rows = df.select(
        "text", c4.c4_clean_col(F.col("text")).alias("cleaned")
    ).collect()
    for r in rows:
        assert r["cleaned"] == c4.c4_clean(r["text"])
    assert rows[0]["cleaned"] == "? ? ?"
    # digits at line edges must survive trimming (index-as-trimset bug)
    assert rows[1]["cleaned"] == "1 a b c. 1" if c4.line_kept("1 a b c. 1") \
        else rows[1]["cleaned"] == ""


def test_vocab_topk(spark):
    docs = spark.createDataFrame(
        [(0, "a a a b"), (1, "a b c"), (2, "b B")],
        "doc_id long, text string",
    )
    out = quality.vocab_topk(docs, k=2).collect()
    assert [(r["tok"], r["n_occurrences"], r["n_docs"]) for r in out] == [
        ("a", 4, 2),
        ("b", 4, 3),  # lowercased; tie with 'a' broken by token text
    ]
    plan = quality.vocab_topk(docs, k=2)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
