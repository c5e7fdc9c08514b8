"""C4-style corpus cleaning rules (Raffel et al., JMLR 2020, §2.2) — beyond
the reference (jcrawler has no corpus-quality pass; this extends the
training-data family of textops.py / operators/dedup.py).

The public C4 heuristics, re-expressed deterministically so a DuckDB oracle
can replicate them byte-for-byte:

Line level (applied to ``\\n``-split lines, each space-trimmed):
  - keep only lines ending in a terminal punctuation mark
    (``. ! ? "`` or ``'`` — the paper's "terminal punctuation mark
    including end quotation marks"),
  - keep only lines with >= 3 whitespace-separated words,
  - drop any line whose lowercase form contains ``javascript``.

Page level (over the raw page + the line-cleaned text):
  - the cleaned text must contain >= 5 sentences (sentence := one
    ``[.!?]`` occurrence — a deterministic stand-in for the paper's
    sentence splitter),
  - drop pages whose lowercase raw text contains ``lorem ipsum``,
  - drop pages containing a curly brace ``{`` (code),
  - drop pages with any banned word as a whitespace token (the paper uses
    the LDNOOBW list; this module ships a tiny neutral placeholder list —
    production swaps in the real list via the ``banned`` parameter).

Every rule exists twice, in lockstep: a pure-Python scalar (tests/oracle
twins) and a Spark ``Column`` form (JVM higher-order functions, map-only,
zero Exchanges — the gate runs at scan speed, same design as
``textops.gopher_pass_col``). Whitespace semantics match the repo's
Java-parity convention: trim strips ASCII spaces only; word-split is
Java's ASCII ``\\s+`` (``[ \\t\\n\\x0B\\f\\r]``, so a no-break space
joins words) with empty tokens dropped.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from jcrawler_spark.functions.textops import _JAVA_WS

# the paper's terminal marks: . ! ? and end quotation marks
TERMINAL_MARKS = (".", "!", "?", '"', "'")
# placeholder for the LDNOOBW bad-word list (see module doc)
BANNED_WORDS = ("unsafeword", "blockedterm")
MIN_WORDS_PER_LINE = 3
MIN_SENTENCES = 5

_SENTENCE_MARK = re.compile(r"[.!?]")


# ---------------------------------------------------------------------------
# pure forms (oracle/test twins)
# ---------------------------------------------------------------------------


def _words(line: str) -> list[str]:
    return [w for w in _JAVA_WS.split(line) if w]


def line_kept(line: str) -> bool:
    t = line.strip(" ")
    if not t or t[-1] not in TERMINAL_MARKS:
        return False
    if len(_words(t)) < MIN_WORDS_PER_LINE:
        return False
    return "javascript" not in t.lower()


def clean_lines(text: str) -> list[str]:
    return [ln.strip(" ") for ln in text.split("\n") if line_kept(ln)]


def c4_clean(text: str) -> str:
    """Line-filtered text, kept lines re-joined with ``\\n``."""
    return "\n".join(clean_lines(text))


def sentence_count(cleaned: str) -> int:
    return len(_SENTENCE_MARK.findall(cleaned))


def c4_page_pass(text: str, banned: tuple[str, ...] = BANNED_WORDS) -> bool:
    lower = text.lower()
    if "lorem ipsum" in lower or "{" in text:
        return False
    toks = set(_words(lower))
    if any(b in toks for b in banned):
        return False
    return sentence_count(c4_clean(text)) >= MIN_SENTENCES


# ---------------------------------------------------------------------------
# Column forms (JVM-side, map-only)
# ---------------------------------------------------------------------------


def _trimmed_lines_col(text: Column) -> Column:
    # the one-arg lambda is load-bearing: F.trim has an optional second
    # parameter, and transform() passes (element, INDEX) to two-arg
    # callables — handing F.trim directly makes the array index the
    # trim-character set (Hypothesis counterexample: '? ? ? ' kept pure,
    # dropped in the Column form because index "0" left the trailing
    # space in place)
    return F.transform(F.split(text, "\n"), lambda x: F.trim(x))


def _line_kept_col(t: Column) -> Column:
    terminal = F.array(*[F.lit(m) for m in TERMINAL_MARKS])
    nwords = F.size(F.filter(F.split(t, r"\s+"), lambda w: w != ""))
    return (
        (t != "")
        & F.array_contains(terminal, F.substring(t, -1, 1))
        & (nwords >= MIN_WORDS_PER_LINE)
        & ~F.contains(F.lower(t), F.lit("javascript"))
    )


def clean_lines_col(text: Column) -> Column:
    return F.filter(_trimmed_lines_col(text), _line_kept_col)


def c4_clean_col(text: Column) -> Column:
    return F.array_join(clean_lines_col(text), "\n")


def sentence_count_col(cleaned: Column) -> Column:
    return F.size(F.regexp_extract_all(cleaned, F.lit(r"[.!?]"), 0))


def c4_page_pass_col(
    text: Column, banned: tuple[str, ...] = BANNED_WORDS
) -> Column:
    lower = F.lower(text)
    banned_arr = F.array(*[F.lit(b) for b in banned])
    toks = F.split(lower, r"\s+")
    has_banned = F.exists(toks, lambda w: F.array_contains(banned_arr, w))
    return (
        ~F.contains(lower, F.lit("lorem ipsum"))
        & ~F.contains(text, F.lit("{"))
        & ~has_banned
        & (sentence_count_col(c4_clean_col(text)) >= MIN_SENTENCES)
    )


def c4_stats_cols(text: Column) -> dict[str, Column]:
    """All C4 signals at once (shares the cleaned-lines subtree)."""
    cleaned = c4_clean_col(text)
    return {
        "c4_cleaned": cleaned,
        "c4_kept_lines": F.size(clean_lines_col(text)),
        "c4_sentences": sentence_count_col(cleaned),
        "c4_pass": c4_page_pass_col(text),
    }
