"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the workload parameters and the run's
``--seed``: the crawl corpus (FIXTURES.md §1/§3, built from
``jcrawler_spark.corpus.page_record``), the crawl seed list, the documents
table the analysis queries read, and the pure-Python set of corpus pages a
crawl can reach. The last one is computed from the corpus's generation rule
alone, never through the link extractor, so it checks the engine from
outside.
"""

from __future__ import annotations

import random
from collections.abc import Iterator

import pandas as pd

from jcrawler_spark import corpus, schemas

# one padding paragraph; ~118 bytes each once formatted with its page id
_PAD = "<p>padding text for a realistic page body — page {i} block {b}</p>\n"


def pad_blocks(page_bytes: int) -> int:
    """Padding paragraphs that bring a ~0.5 KB corpus page to page_bytes."""
    return max(0, (page_bytes - 500) // 118)


def pages_batches(
    batches: Iterator[pd.DataFrame], n_pages: int, n_hosts: int, pad: int
) -> Iterator[pd.DataFrame]:
    """mapInPandas body: corpus rows for the ids in each batch.

    Each row is ``corpus.page_record`` at the unit-test body size. A 200 page
    gets ``pad`` extra paragraphs without links before ``</body>``, so its
    html reaches the wanted size while its links stay exactly those of the
    generation rule. The ``text`` column keeps the unpadded text; the crawl
    never reads it (the engine drops it after the fetch join)."""
    for b in batches:
        rows = []
        for i in (int(x) for x in b["id"]):
            rec = corpus.page_record(i, n_pages, n_hosts)
            if pad and rec["status"] == 200:
                filler = "".join(_PAD.format(i=i, b=k) for k in range(pad))
                html = rec["html"].decode("utf-8")
                rec["html"] = html.replace("</body>", filler + "</body>").encode()
            rows.append(rec)
        yield pd.DataFrame(rows)


def build_corpus(spark, n_pages: int, n_hosts: int, page_bytes: int, parts: int):
    """The synthetic web as a cached DataFrame, generated on the executors."""
    pad = pad_blocks(page_bytes)

    def gen(batches):
        return pages_batches(batches, n_pages, n_hosts, pad)

    df = (
        spark.range(0, n_pages, 1, parts)
        .mapInPandas(gen, schema=schemas.PAGES)
        .cache()
    )
    return df


def crawl_seed_ids(seed: int, n_pages: int, n_seeds: int) -> list[int]:
    """``n_seeds`` distinct page ids from the first ninth of the corpus, so
    every seed has its children and grandchildren inside the corpus and the
    frontier outgrows the wave budget."""
    rng = random.Random(seed)
    return sorted(rng.sample(range(n_pages // 9), n_seeds))


def out_ids(i: int, n_pages: int) -> list[int]:
    """In-corpus pages that page i links to, from FIXTURES.md §3 alone."""
    st = corpus.status_of(i)
    if st == 301:
        return [(i * 13 + 1) % n_pages]
    if st == 404:
        return []
    out = corpus.child_ids(i, n_pages)
    if i % 10 == 3:
        out.append((i * 7) % n_pages)
    return out


def reachable_ids(seed_ids: list[int], n_pages: int) -> set[int]:
    """Every corpus page reachable from the seeds (self-links drop out)."""
    seen = set(seed_ids)
    todo = list(seed_ids)
    while todo:
        nxt = []
        for i in todo:
            for j in out_ids(i, n_pages):
                if j not in seen:
                    seen.add(j)
                    nxt.append(j)
        todo = nxt
    return seen


def corpus_id_of(url: str, n_pages: int, n_hosts: int) -> int | None:
    """The page id behind a corpus URL, or None for any other URL."""
    if not url.startswith("https://host") or "/p/" not in url:
        return None
    tail = url.rsplit("/", 1)[-1]
    if not tail.isdigit():
        return None
    i = int(tail)
    if i >= n_pages or corpus.url_of(i, n_hosts) != url:
        return None
    return i


# --- analysis documents ---------------------------------------------------

# the documents table's vocabulary and language mix, as in the TPC-H-style
# test data the contract queries were written against
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_WEIGHTS = [41, 15, 14, 15, 15]
DOC_VARIANTS = 8


def doc_variant(seed: int) -> int:
    """The analysis input is one of DOC_VARIANTS seeded tables; each has its
    DuckDB oracle results kept in oracles.json (make_oracles.py)."""
    return seed % DOC_VARIANTS


def documents(variant: int, n_docs: int) -> pd.DataFrame:
    """documents(doc_id, text, lang, source, n_chars): 10-100 words from a
    30-word vocabulary; 5% of documents copy an earlier one plus a 'dup'
    marker, which gives the near-duplicate queries groups to find."""
    rng = random.Random(1000 + variant)
    rows = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            base = rows[rng.randrange(i)]["text"].removesuffix(" dup")
            text = base + " dup"
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        lang = rng.choices(LANGS, LANG_WEIGHTS)[0]
        rows.append(
            {
                "doc_id": i,
                "text": text,
                "lang": lang,
                "source": f"src{i % 20}",
                "n_chars": len(text),
            }
        )
    return pd.DataFrame(rows)


def write_documents(path: str, variant: int, n_docs: int) -> None:
    documents(variant, n_docs).to_parquet(path, index=False)
