"""Corpus-wide training-data quality operators — beyond the reference
(jcrawler stops at crawling; these are the corpus-cleanup passes a
100 TB LLM-data pipeline runs next, public designs only):

- ``unigram_logprobs`` / ``ccnet_buckets`` — CCNet-style (Wenzek et al.,
  LREC 2020) language-model quality bucketing, with a corpus-trained
  *unigram* LM standing in for KenLM (absent in this sandbox): one
  groupBy trains the LM, one join scores every token, one agg per doc,
  head/middle/tail split on global terciles.
- ``contamination_flags`` — benchmark decontamination (GPT-3 appendix C
  style): flag any document sharing an n-gram with a benchmark set.
- ``cross_dup_ngram_stats`` — cross-document duplicated-substring rate
  (the detection half of Lee et al. 2022 "Deduplicating Training Data";
  word-n-gram granularity instead of suffix arrays): fraction of each
  document's n-gram starts that occur in more than one document.
- ``source_stats`` — per-source corpus roll-up (doc counts, token
  volume, quality, language mix).

Scale notes (the 100 TB answers):
- The unigram LM is ONE token groupBy (map-side partial agg) + one
  shuffle join token→count; vocabulary is bounded by distinct tokens,
  not corpus size. Tercile cutpoints default to Spark's exact
  ``percentile`` (single-reducer O(n_docs) buffer — fine to ~10^8 docs);
  pass ``rel_err`` to switch to ``percentile_approx`` beyond that. The
  cutpoints are a 1-row broadcast either way.
- Decontamination broadcasts the *benchmark* gram set (test sets are
  ~10^6 grams), so the corpus side is map-only + one semi-join without
  a corpus-side shuffle.
- ``cross_dup_ngram_stats`` keys the corpus-wide groupBy on the gram
  TEXT, not a hash (same reasoning as ``dedup.dedup_paragraphs``: a
  60-bit hash key silently merges colliding grams at 10^11-gram scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jcrawler_spark.functions import textops


def _words_col(text: Column) -> Column:
    """Lowercased whitespace tokens, empties dropped (textops convention)."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda w: w != "")


def _grams_col(text: Column, n: int) -> Column:
    """Word n-gram strings (space-joined) of the lowercased words; empty
    array when < n tokens. Built by ``textops.word_ngrams_col`` from one
    split: a lambda that captured the split would re-run it per gram."""
    return textops.word_ngrams_col(_words_col(text), n)


# ---------------------------------------------------------------------------
# CCNet-style unigram-LM quality bucketing
# ---------------------------------------------------------------------------


def unigram_logprobs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean token log-probability under the corpus-trained
    unigram LM: ``(id_col, n_tokens, mean_logprob)``.

    Plan: explode tokens (map-only) -> groupBy token (the LM "training";
    map-side partial agg) -> in-plan total via a 1-row broadcast ->
    shuffle join tokens->counts -> per-doc agg. No driver collects.
    Documents with zero tokens get ``n_tokens=0, mean_logprob=NULL``.
    """
    toks = docs.select(
        F.col(id_col), F.explode(_words_col(F.col(text_col))).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    scored = toks.join(vocab, "tok").crossJoin(F.broadcast(total))
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg(F.log(F.col("cnt") / F.col("total"))).alias("mean_logprob"),
    )
    return docs.select(id_col).join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
        F.col("mean_logprob"),
    )


def ccnet_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rel_err: float | None = None,
) -> DataFrame:
    """CCNet head/middle/tail terciles over ``mean_logprob``:
    ``(id_col, n_tokens, mean_logprob, bucket)`` with bucket 'head'
    (highest logprob = most in-domain), 'middle', 'tail'; zero-token
    documents land in 'tail'.

    ``rel_err=None`` uses the exact ``percentile`` aggregate (see module
    scale note); a float switches to ``percentile_approx(…, 1/rel_err)``.
    """
    # lp feeds BOTH the cutpoint aggregate and the bucket join — a plan
    # cut materializes the LM-train + scoring pipeline once instead of
    # twice (16 → ~8 Exchanges, the same eager-localCheckpoint idiom as
    # graph.pagerank / dedup.connected_components)
    lp = unigram_logprobs(docs, id_col, text_col).localCheckpoint(eager=True)
    fracs = F.array(F.lit(1.0 / 3.0), F.lit(2.0 / 3.0))
    if rel_err is None:
        cuts = lp.agg(F.percentile("mean_logprob", fracs).alias("cuts"))
    else:
        cuts = lp.agg(
            F.percentile_approx(
                "mean_logprob", fracs, F.lit(int(1.0 / rel_err))
            ).alias("cuts")
        )
    out = lp.crossJoin(F.broadcast(cuts))
    c1 = F.col("cuts")[0]
    c2 = F.col("cuts")[1]
    bucket = (
        F.when(F.col("mean_logprob").isNull(), F.lit("tail"))
        .when(F.col("mean_logprob") <= c1, F.lit("tail"))
        .when(F.col("mean_logprob") <= c2, F.lit("middle"))
        .otherwise(F.lit("head"))
    )
    return out.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("mean_logprob"),
        bucket.alias("bucket"),
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
) -> DataFrame:
    """Flag documents sharing any word ``n``-gram with the benchmark set:
    ``(id_col, contaminated:boolean)``.

    The benchmark gram set is distinct-ed then BROADCAST (module scale
    note); the corpus side is one explode + one broadcast semi-join +
    one distinct on ids — no corpus-wide shuffle on gram text.
    """
    btc = bench_text_col or text_col
    bench_grams = benchmark.select(
        F.explode(_grams_col(F.col(btc), n)).alias("g")
    ).distinct()
    doc_grams = docs.select(
        F.col(id_col), F.explode(_grams_col(F.col(text_col), n)).alias("g")
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "g", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return docs.select(id_col).join(hits, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("contaminated"), F.lit(False)).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# cross-document duplicated-substring rate (Lee et al. 2022, detection)
# ---------------------------------------------------------------------------


def cross_dup_ngram_stats(
    docs: DataFrame,
    n: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(id_col, n_grams, dup_frac)`` — dup_frac is the fraction of the
    document's word-n-gram starts whose gram text occurs in MORE THAN ONE
    document (cross-document duplication only; intra-doc repeats of a
    gram unique to the doc do not count — that is gopher's
    ``dup_ngram_char_frac`` signal, textops.py).

    One explode -> one groupBy on the gram TEXT (module scale note) ->
    one join back -> per-doc agg. Documents with < n tokens report
    ``n_grams=0, dup_frac=0.0``.
    """
    doc_grams = docs.select(
        F.col(id_col), F.explode(_grams_col(F.col(text_col), n)).alias("g")
    )
    # "occurs in >1 doc" == min(id) != max(id): min/max partially
    # aggregate map-side, so a boilerplate mega-gram with 10^9
    # occurrences collapses per-partition instead of funneling distinct
    # id sets into one reducer (count_distinct's skew hot-spot)
    spread = doc_grams.groupBy("g").agg(
        (F.min(F.col(id_col)) != F.max(F.col(id_col))).alias("multi")
    )
    per_doc = (
        doc_grams.join(spread, "g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.avg(F.col("multi").cast("double")).alias("dup_frac"),
        )
    )
    return docs.select(id_col).join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
        F.coalesce(F.col("dup_frac"), F.lit(0.0)).alias("dup_frac"),
    )


# ---------------------------------------------------------------------------
# per-source corpus roll-up
# ---------------------------------------------------------------------------


def source_stats(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-source roll-up: ``(source, n_docs, total_tokens, avg_quality,
    en_frac)`` — one map-side-combining groupBy, no joins."""
    text = F.col(text_col)
    return docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(_words_col(text))).alias("total_tokens"),
        F.round(F.avg(textops.quality_score_col(text)), 4).alias(
            "avg_quality"
        ),
        F.round(
            F.avg((F.col(lang_col) == "en").cast("double")), 4
        ).alias("en_frac"),
    )


def remove_cross_dup_spans(
    docs: DataFrame,
    n: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The REMOVAL half of Lee et al. 2022 (first-occurrence-wins, word
    granularity): ``(id_col, clean_text, n_tokens, n_removed)``.

    A word-``n``-gram occurrence is *duplicate* iff another occurrence of
    the same gram text sorts before it by (doc id, position); every token
    position covered by a duplicate occurrence is removed, so exactly one
    copy of each repeated span survives corpus-wide (the globally first).
    Tokens are raw whitespace tokens (original case — removal must
    preserve the surviving text byte-for-byte).

    Plan: min-(id,pos) owner aggregate on the gram TEXT (the module's
    no-hash-keys rule; map-side partial agg, skew-proof on boilerplate
    mega-grams) -> covered-position explode + distinct -> anti-join token
    positions -> one groupBy rebuild in original order. All shuffles
    O(tokens) — never O(corpus²), no per-gram sort.
    """
    raw_ws = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda w: w != ""
    )
    base = docs.select(F.col(id_col), raw_ws.alias("ws"))
    grams = textops.word_ngrams_col(F.col("ws"), n)
    occ = base.select(
        F.col(id_col), F.posexplode(grams).alias("pos0", "gram")
    ).select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), "gram")
    # the owner is min((id, pos)) per gram — a map-side-combining
    # aggregate, NOT a window sort: a boilerplate mega-gram's 10^9
    # occurrences collapse to one row per partition before the shuffle,
    # where row_number-over-gram would sort them all in one task
    owner = occ.groupBy("gram").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("first_occ")
    )
    dup_occ = occ.join(owner, "gram").where(
        F.struct(F.col(id_col), F.col("pos")) != F.col("first_occ")
    )
    covered = dup_occ.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
        ).alias("p"),
    ).distinct()
    toks = base.select(
        F.col(id_col), F.posexplode("ws").alias("p0", "tok")
    ).select(F.col(id_col), (F.col("p0") + 1).alias("p"), "tok")
    kept = toks.join(covered, [id_col, "p"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    # n_tokens comes from the BASE side: a fully-removed doc is absent
    # from `rebuilt` but must still report its original token count
    counts = base.select(
        F.col(id_col), F.size("ws").cast("long").alias("n_tokens")
    )
    return counts.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.col("n_tokens"),
        (
            F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))
        ).cast("long").alias("n_removed"),
    )


def vocab_topk(
    docs: DataFrame,
    k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary head: ``(tok, n_occurrences, n_docs)`` for the
    ``k`` most frequent whitespace tokens (ties broken by token text) —
    the tokenizer-training / LM-vocab artifact next to
    :func:`unigram_logprobs`. Two map-side-combining groupBys (raw
    occurrences; document frequency over the in-row array_distinct) +
    a join on the bounded vocab + TakeOrdered top-k — no global sort,
    every shuffle bounded by distinct-token count, not corpus size."""
    toks = docs.select(_words_col(F.col(text_col)).alias("ws"))
    occ = toks.select(F.explode("ws").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    per_doc = toks.select(
        F.explode(F.array_distinct("ws")).alias("tok")
    ).groupBy("tok").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        occ.join(per_doc, "tok")
        .orderBy(F.desc("n_occurrences"), F.col("tok"))
        .limit(k)
    )
