"""Deduplication operators for large-scale training-data pipelines:
exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard.

Everything here is pure Column expressions (JVM-side, whole-stage codegen,
no Python UDFs) built on one shared 60-bit md5-derived hash so the DuckDB
oracle can replicate results bit-for-bit:

    Spark : conv(substr(md5(s),1,15), 16, 10)::long
    DuckDB: ('0x'||substr(md5(s),1,15))::BIGINT

Scale notes (100 TB): exact dedup is one shuffle on the content hash with
map-side partial aggregation. MinHash/LSH turns near-dup detection from an
O(n²) cross join into a groupBy on (band_id, band_hash) — each bucket is
tiny, and the pair join inside buckets is data-local. SimHash gives a
64→32-bit signature whose banded prefixes can be joined the same way. The
Jaccard verify only runs on LSH candidate pairs, never all pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from jcrawler_spark.checkpoints import drop_checkpoints
from jcrawler_spark.functions import textops


def hash60(col: Column) -> Column:
    """60-bit deterministic hash, oracle-replicable (see module doc)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str) -> str:
    """The DuckDB-SQL form of hash60 for oracle queries."""
    return f"(('0x'||substr(md5({expr}),1,15))::BIGINT)"


def tokens_col(text: Column) -> Column:
    return F.split(text, r"\s+")


def shingles_col(text: Column, k: int) -> Column:
    """Word k-gram shingles (space-joined); empty array when < k tokens,
    NULL for NULL text (as ``shingles_sql``).

    The text is split ONCE and the shingles come from
    ``textops.word_ngrams_col``: no lambda may capture the split, or it
    is re-run per shingle — O(tokens²) per document, repeated for each of
    ``minhash_signatures``' permutation columns."""
    return textops.word_ngrams_col(tokens_col(text), k)


def shingles_sql(text_expr: str, k: int) -> str:
    """DuckDB equivalent of shingles_col (1-based inclusive list slices)."""
    toks = f"string_split_regex({text_expr}, '\\s+')"
    return (
        f"[array_to_string({toks}[i:i+{k - 1}], ' ') "
        f"for i in range(1, len({toks})-{k}+2)]"
    )


def minhash_col(shingles: Column, perm: int) -> Column:
    """Min over shingles of hash60('{perm}:'||shingle); NULL for empty."""
    return F.array_min(
        F.transform(shingles, lambda s: hash60(F.concat(F.lit(f"{perm}:"), s)))
    )


def minhash_sql(shingles_expr: str, perm: int) -> str:
    inner = hash60_sql(f"'{perm}:' || s")
    return f"list_min([{inner} for s in {shingles_expr}])"


def simhash_col(text: Column, bits: int = 32) -> Column:
    """SimHash over whitespace tokens: bit b is the sign of Σ±1 across token
    hashes' bit b. Pure expressions; `bits` defaults to 32 to keep the
    generated plan (and the SQL oracle) compact."""
    toks = tokens_col(text)
    hashes = F.transform(toks, lambda t: hash60(t))
    out = F.lit(0).cast("long")
    for b in range(bits):
        vote = F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        out = out + F.when(vote > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0))
    return out


def simhash_sql(text_expr: str, bits: int = 32) -> str:
    toks = f"string_split_regex({text_expr}, '\\s+')"
    hashes = f"[{hash60_sql('t')} for t in {toks}]"
    terms = []
    for b in range(bits):
        vote = (
            f"list_sum([case when (h >> {b}) & 1 = 1 then 1 else -1 end "
            f"for h in {hashes}])"
        )
        terms.append(f"(case when {vote} > 0 then {1 << b}::BIGINT else 0 end)")
    return "(" + " + ".join(terms) + ")"


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: one shuffle on the content hash; keeper = min id.
    Returns (content_hash, keeper_id, n_copies) for groups with copies > 1."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).cast("long").alias("keeper_id"),
            F.count("*").cast("long").alias("n_copies"),
        )
        .where(F.col("n_copies") > 1)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_perm: int = 8,
) -> DataFrame:
    """id + minhash signature columns mh0..mh{n-1} (NULL-safe: docs shorter
    than k tokens hash the whole text)."""
    sh = shingles_col(F.col(text_col), k)
    sh = F.when(F.size(sh) > 0, sh).otherwise(F.array(F.col(text_col)))
    out = df.select(F.col(id_col).alias("id"), sh.alias("sh"))
    for p in range(n_perm):
        out = out.withColumn(f"mh{p}", minhash_col(F.col("sh"), p))
    return out.drop("sh")


def _band_keys(sigs: DataFrame, n_perm: int, band_size: int) -> DataFrame:
    """(id, band, bh) in ONE pass over the signatures: each row explodes
    into its n_bands keys (the previous union-of-selects recomputed the
    whole minhash pipeline once per band per join side)."""
    n_bands = n_perm // band_size
    structs = []
    for b in range(n_bands):
        cols = [
            F.col(f"mh{b * band_size + j}").cast("string")
            for j in range(band_size)
        ]
        structs.append(
            F.struct(
                F.lit(b).alias("band"),
                hash60(F.concat_ws(",", *cols)).alias("bh"),
            )
        )
    return sigs.select("id", F.explode(F.array(*structs)).alias("k")).select(
        "id", F.col("k.band").alias("band"), F.col("k.bh").alias("bh")
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    n_perm: int = 8,
    band_size: int = 2,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Band the signature, bucket-join within (band, band_hash): the classic
    MinHash-LSH candidate generation. Output (id_a, id_b) with id_a < id_b,
    distinct.

    Mega-bucket defusal (the 100 TB LSH skew bomb: boilerplate-heavy web
    text puts millions of near-identical docs in ONE bucket, and a clique
    self-join is O(bucket²)): buckets larger than `max_bucket` emit a STAR
    instead of a clique — every member pairs with the bucket's min id, so
    the pair count is O(bucket) while the connected components (what dedup
    keeps/drops) are IDENTICAL to the clique's. Pairwise recall inside
    oversized buckets drops from all-pairs to hub-pairs; this is never
    silent — call `lsh_bucket_stats` for the affected bucket/row counts,
    and set max_bucket=None for exact all-pairs semantics (the SQL oracle's
    form; test data stays far below the default cap)."""
    bands = _band_keys(sigs, n_perm, band_size)
    if max_bucket is not None:
        wb = Window.partitionBy("band", "bh")
        wo = wb.orderBy("id")
        bands = (
            bands.withColumn("bsz", F.count("*").over(wb))
            .withColumn("brn", F.row_number().over(wo))
        )
        small = bands.where(F.col("bsz") <= max_bucket)
        big = bands.where(F.col("bsz") > max_bucket)
        sl = small.select("band", "bh", F.col("id").alias("id_a"))
        sr = small.select("band", "bh", F.col("id").alias("id_b"))
        clique = (
            sl.join(sr, ["band", "bh"]).where(F.col("id_a") < F.col("id_b"))
        )
        hub = big.where(F.col("brn") == 1).select(
            "band", "bh", F.col("id").alias("id_a")
        )
        spokes = big.where(F.col("brn") > 1).select(
            "band", "bh", F.col("id").alias("id_b")
        )
        star = hub.join(spokes, ["band", "bh"])
        pairs = clique.unionByName(star)
    else:
        left = bands.withColumnsRenamed({"id": "id_a"})
        right = bands.withColumnsRenamed({"id": "id_b"})
        pairs = left.join(right, ["band", "bh"]).where(
            F.col("id_a") < F.col("id_b")
        )
    return pairs.select("id_a", "id_b").distinct()


def lsh_bucket_stats(
    sigs: DataFrame, n_perm: int = 8, band_size: int = 2, max_bucket: int = 64
) -> DataFrame:
    """Per-threshold bucket accounting so capped runs are never silent:
    (n_buckets, n_rows, n_over_cap_buckets, n_over_cap_rows, max_bucket_sz)."""
    sizes = _band_keys(sigs, n_perm, band_size).groupBy("band", "bh").count()
    return sizes.agg(
        F.count("*").alias("n_buckets"),
        F.sum("count").alias("n_rows"),
        F.count(F.when(F.col("count") > max_bucket, 1)).alias(
            "n_over_cap_buckets"
        ),
        F.sum(F.when(F.col("count") > max_bucket, F.col("count"))).alias(
            "n_over_cap_rows"
        ),
        F.max("count").alias("max_bucket_sz"),
    )


def connected_components(
    pairs: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Connected components over an undirected pair list (id_a, id_b):
    returns (id, comp) with comp = the minimum id in the node's component —
    the canonical label a dedup pipeline keys duplicate GROUPS by.

    Algorithm: min-label propagation. Each round every node takes the min
    of its own label and its neighbours' labels; converged when no label
    changes. Rounds = graph diameter; LSH duplicate graphs are near-star
    (one hub per banding bucket, see `lsh_candidate_pairs`' star collapse),
    so real corpora converge in 2-4 rounds. Each round is two shuffles
    (edge join + min-groupBy) over the EDGE list only — never all docs —
    and `localCheckpoint` cuts the plan so the loop stays O(1) per round.
    For adversarially chain-shaped graphs (diameter ~n) the literature's
    large-star/small-star alternation bounds rounds by O(log² n); the
    propagation loop here is the simpler standard choice because banded
    LSH output cannot produce long chains without intermediate hubs."""
    # id-type-generic (round-5 review fix): min-label propagation only
    # needs an orderable id, so string ids (e.g. the url itself — immune
    # to 64-bit-hash birthday collisions at 10^10 docs) work unchanged;
    # the old cast("long") nulled them out
    id_type = pairs.schema["id_a"].dataType
    edges = pairs.select(
        F.col("id_a").alias("src"),
        F.col("id_b").cast(id_type).alias("dst"),
    )
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .persist()
    )
    # the previous round's checkpoint, kept as the frame that was
    # checkpointed (``labels`` is a projection of it)
    prev_ckpt = None
    for _ in range(max_iter):
        prop = edges.join(labels, edges["src"] == labels["id"]).select(
            F.col("dst").alias("id"),
            "comp",
            F.lit(None).cast(id_type).alias("old"),
        )
        # the node's previous label rides the union as `old` (prop rows
        # carry NULL — min() ignores them, and every id has a labels-leg
        # row), so ONE count action both materializes the LAZY checkpoint
        # and returns the changed-label count: the separate eager-checkpoint
        # job + isEmpty JOIN the round-4 profile flagged are gone
        # (VERDICT r4 #3 — per round: 1 action, 2 shuffles, O(edges)).
        new_labels = (
            labels.withColumn("old", F.col("comp"))
            .unionByName(prop)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"), F.min("old").alias("old"))
            .localCheckpoint(eager=False)
        )
        changed = new_labels.where(F.col("comp") != F.col("old")).count()
        # the count materialised new_labels: no round reads the previous
        # labels again (the first round's are cached, later ones are
        # checkpoints, which unpersist() does not reach)
        if prev_ckpt is None:
            labels.unpersist()
        else:
            drop_checkpoints([prev_ckpt])
        prev_ckpt = new_labels
        labels = new_labels.drop("old")
        if changed == 0:
            break
    edges.unpersist()
    return labels


def duplicate_groups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_perm: int = 8,
    band_size: int = 2,
    threshold: float = 0.2,
    max_bucket: int | None = 64,
) -> DataFrame:
    """End-to-end near-duplicate clustering: MinHash → LSH candidates →
    n-gram Jaccard verify (≥ threshold) → connected components. Returns
    one row per doc that belongs to a duplicate group:
    (id_col, group_id, is_keeper) where group_id is the component's min id
    and is_keeper marks the canonical (min-id) member — the row a
    training-data pipeline keeps. Docs with no verified duplicate don't
    appear (they are all implicit keepers; see `dedup_corpus`)."""
    sigs = minhash_signatures(docs, text_col, id_col, k=k, n_perm=n_perm)
    cand = lsh_candidate_pairs(
        sigs, n_perm=n_perm, band_size=band_size, max_bucket=max_bucket
    )
    verified = ngram_jaccard(cand, docs, text_col, id_col, k=k).where(
        F.col("jaccard") >= threshold
    )
    comps = connected_components(verified.select("id_a", "id_b"))
    return comps.select(
        F.col("id").alias(id_col),
        F.col("comp").alias("group_id"),
        (F.col("id") == F.col("comp")).alias("is_keeper"),
    )


def dedup_corpus(
    docs: DataFrame, groups: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Drop non-canonical duplicates: anti-join docs against the groups'
    non-keeper rows. Keeps every singleton (absent from `groups`) and each
    group's min-id representative. One shuffle on the id."""
    losers = groups.where(~F.col("is_keeper")).select(id_col)
    return docs.join(losers, id_col, "left_anti")


def dedup_paragraphs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style corpus-wide paragraph dedup: split each document on
    newlines, keep only the globally FIRST occurrence of every distinct
    non-empty paragraph (first = lowest (doc_id, position)), and rebuild
    each document from its surviving paragraphs in original order.

    Returns (id_col, n_paras, n_kept, clean_text). Documents whose
    paragraphs were all dropped elsewhere-first still appear with
    n_kept=0 and clean_text=''.

    Scale design (100 TB): explode → ONE shuffle partitioned on the
    paragraph text itself (row_number window picks the winner — no
    self-join, no collect; partitioning by the text, not a 60-bit hash,
    means a hash collision can never silently merge two distinct
    paragraphs at 10^11-paragraph scale), then ONE groupBy on doc_id to
    reassemble. Both keys are high-cardinality and skew-free; a
    pathological mega-paragraph repeated everywhere still lands as one
    window partition whose rows are only counted, not materialized
    per-row downstream."""
    paras = docs.select(
        F.col(id_col).alias("_did"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "para"),
    ).where(F.trim(F.col("para")) != "")
    w = Window.partitionBy(F.col("para")).orderBy("_did", "pos")
    ranked = paras.withColumn("rn", F.row_number().over(w))
    # n_paras comes from the DOCS frame, map-side (round-5 review fix):
    # deriving it from the exploded/filtered paras silently dropped
    # documents with no non-empty paragraphs from the output entirely —
    # and cost an extra groupBy shuffle to boot
    totals = docs.select(
        F.col(id_col).alias("_did"),
        F.size(
            F.filter(
                F.split(F.col(text_col), "\n"),
                lambda p: F.trim(p) != F.lit(""),
            )
        ).cast("long").alias("n_paras"),
    )
    kept = (
        ranked.where(F.col("rn") == 1)
        .groupBy("_did")
        .agg(
            F.count("*").alias("n_kept"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("para")))
                    ),
                    lambda s: s["para"],
                ),
            ).alias("clean_text"),
        )
    )
    return (
        totals.join(kept, "_did", "left")
        .select(
            F.col("_did").alias(id_col),
            F.col("n_paras"),
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def ngram_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Jaccard similarity of word-k-gram sets for given (id_a, id_b) pairs —
    the verify stage after LSH candidate generation. Broadcast-friendly:
    docs' shingle arrays join twice on id."""
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles_col(F.col(text_col), k)).alias("sh"),
    )
    a = sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"})
    b = sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"})
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.when(union > 0, inter.cast("double") / union.cast("double"))
            .otherwise(F.lit(0.0))
            .alias("jaccard"),
        )
    )
