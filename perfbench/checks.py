"""Output checks, computed apart from the program.

Each check returns None when it holds and a one-line reason when it does
not. ``self_test_*`` perturbs a copy of the real outputs once per check and
expects that check to fail, so a run also shows that none of its checks is
dead.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
from dataclasses import dataclass

import pandas as pd
import pyarrow.parquet as pq

from perfbench import inputs


# --- crawl -----------------------------------------------------------------


@dataclass
class CrawlOutputs:
    rows: list[dict]          # pages table read back: url, url_hash, src_url, superstep
    seed_urls: list[str]
    waves: list[int]          # StepStats.wave per superstep
    new_frontier: list[int]   # StepStats.new_frontier per superstep
    emitted: int              # CrawlEngine.emitted_count
    pending_left: int         # StepStats.pending_left of the last superstep
    reachable: set[int]       # inputs.reachable_ids of the seeds
    n_pages: int
    n_hosts: int


def read_pages(state_root: str) -> list[dict]:
    """The committed pages table, read with pyarrow from the files the last
    checkpoint manifest lists (not through Spark or the snapshot store)."""
    ck = os.path.join(state_root, "checkpoints")
    last = sorted(f for f in os.listdir(ck) if f.endswith(".json"))[-1]
    with open(os.path.join(ck, last)) as f:
        manifest = json.load(f)
    cols = ["url", "url_hash", "src_url", "superstep"]
    rows: list[dict] = []
    for rel in manifest["appends"].get("pages", []):
        rows.extend(pq.read_table(os.path.join(state_root, rel), columns=cols).to_pylist())
    return rows


def check_no_duplicates(o: CrawlOutputs) -> str | None:
    hashes = {r["url_hash"] for r in o.rows}
    urls = {r["url"] for r in o.rows}
    if len(hashes) != o.emitted or len(urls) != len(o.rows):
        return (
            f"duplicates: {len(o.rows)} rows, {len(urls)} urls, "
            f"{len(hashes)} url_hash, emitted {o.emitted}"
        )
    return None


def check_frontier_conservation(o: CrawlOutputs) -> str | None:
    lhs = len(o.seed_urls) + sum(o.new_frontier)
    rhs = o.emitted + o.pending_left
    if lhs != rhs:
        return f"seeds + new_frontier = {lhs} != emitted + pending_left = {rhs}"
    return None


def check_pages_conservation(o: CrawlOutputs) -> str | None:
    if len(o.rows) != sum(o.waves):
        return f"pages rows {len(o.rows)} != sum(wave) {sum(o.waves)}"
    return None


def check_provenance(o: CrawlOutputs) -> str | None:
    step_of = {r["url"]: r["superstep"] for r in o.rows}
    seeds = set(o.seed_urls)
    for r in o.rows:
        if r["src_url"] is None:
            if r["url"] not in seeds:
                return f"non-seed {r['url']} has no src_url"
            continue
        src_step = step_of.get(r["src_url"])
        if src_step is None or src_step >= r["superstep"]:
            return (
                f"{r['url']} (superstep {r['superstep']}) comes from "
                f"{r['src_url']} (superstep {src_step})"
            )
    return None


def check_expected_set(o: CrawlOutputs) -> str | None:
    got = set()
    for r in o.rows:
        i = inputs.corpus_id_of(r["url"], o.n_pages, o.n_hosts)
        if i is not None:
            got.add(i)
    if not got:
        return "no corpus page emitted"
    extra = got - o.reachable
    if extra:
        return f"{len(extra)} emitted pages are unreachable, e.g. id {min(extra)}"
    if o.pending_left == 0 and got != o.reachable:
        return f"crawl ran dry but missed {len(o.reachable - got)} reachable pages"
    return None


CRAWL_CHECKS = {
    "no_duplicates": check_no_duplicates,
    "frontier_conservation": check_frontier_conservation,
    "pages_conservation": check_pages_conservation,
    "provenance": check_provenance,
    "expected_set": check_expected_set,
}


def _perturbed_crawl(o: CrawlOutputs, check: str) -> CrawlOutputs:
    p = copy.copy(o)
    p.rows = [dict(r) for r in o.rows]
    if check == "no_duplicates":
        p.rows.append(dict(p.rows[-1]))
    elif check == "frontier_conservation":
        p.new_frontier = list(o.new_frontier)
        p.new_frontier[-1] += 1
    elif check == "pages_conservation":
        p.rows.pop()
    elif check == "provenance":
        # a child claims a parent popped in its own superstep
        last = max(r["superstep"] for r in p.rows)
        same = [r for r in p.rows if r["superstep"] == last]
        child = next(r for r in same if r["src_url"] is not None)
        child["src_url"] = same[0]["url"] if same[0] is not child else same[1]["url"]
    elif check == "expected_set":
        missing = next(i for i in range(o.n_pages) if i not in o.reachable)
        p.rows[-1]["url"] = inputs.corpus.url_of(missing, o.n_hosts)
    return p


def run_crawl_checks(o: CrawlOutputs) -> list[str]:
    """Failures of the checks on the real outputs, then any check that does
    not catch its perturbation."""
    fails = [f"{n}: {msg}" for n, fn in CRAWL_CHECKS.items() if (msg := fn(o))]
    for name, fn in CRAWL_CHECKS.items():
        if fn(_perturbed_crawl(o, name)) is None:
            fails.append(f"{name}: did not catch a perturbed output")
    return fails


# --- analyze ---------------------------------------------------------------


def value_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash over stringified cells, as
    tools/check_contract.py computes it for the DuckDB contract check."""
    cols = sorted(df.columns)
    d = df[cols].copy()
    for c in cols:
        d[c] = d[c].map(
            lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v))
            else (repr(float(v)) if isinstance(v, float) else str(v))
        )
    rows = sorted("\x1f".join(r) for r in d.itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode("utf-8"))
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def check_query(name: str, pdf: pd.DataFrame, expect: dict) -> str | None:
    rows, vh = len(pdf), value_hash(pdf)
    if rows != expect["rows"] or vh != expect["hash"]:
        return (
            f"{name}: rows {rows}/{expect['rows']} hash {vh}/{expect['hash']}"
        )
    return None


def self_test_query(name: str, pdf: pd.DataFrame, expect: dict) -> list[str]:
    """One altered cell and one dropped row must each fail the check."""
    fails = []
    altered = pdf.copy()
    col = altered.columns[0]
    v = altered.iloc[0, 0]
    altered[col] = altered[col].astype(object)
    try:
        altered.iat[0, 0] = v + 1
    except TypeError:
        altered.iat[0, 0] = f"{v}x"
    if check_query(name, altered, expect) is None:
        fails.append(f"{name}: did not catch an altered row")
    if len(pdf) and check_query(name, pdf.iloc[1:], expect) is None:
        fails.append(f"{name}: did not catch a dropped row")
    return fails
