"""Deterministic HTML→text extraction + text-analysis scalars.

The reference normalizes HTML via Jsoup (JScraper.java:101-126) but the
authoritative per-row invariant for this rebuild is BASELINE.json
``input_hint``: *byte-identical extracted text per url*. lxml/bs4 are not
available in this sandbox, so ``extract_text`` is a fixed, deterministic
pure-Python routine (regex tag-stripper + stdlib entity unescape) that is
golden-tested and used BOTH to generate the synthetic corpus `text` column
and inside the engine's Arrow UDF — byte-identical by construction, and the
invariant test re-derives it from `html` to prove it.

Also hosts the text-analysis scalars a training-data pipeline needs
(language-ID heuristic, quality scoring, token counting, fingerprinting),
each in a pure-Python form (oracle/tests) and a Spark Column form
(JVM-side, codegen-friendly) so the DuckDB oracle can replicate them in SQL.
"""

from __future__ import annotations

import html as _htmlmod
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# HTML → text (deterministic; the input_hint invariant)
# ---------------------------------------------------------------------------

_SCRIPT_STYLE = re.compile(r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>")
_COMMENT = re.compile(r"(?s)<!--.*?-->")
_BLOCK_CLOSE = re.compile(
    r"(?i)</?(p|div|br|li|tr|h[1-6]|ul|ol|table|section|article|header|footer)\b[^>]*>"
)
_ANY_TAG = re.compile(r"(?s)<[^>]+>")
_SPACES = re.compile(r"[ \t\r\f\v]+")
_BLANK_LINES = re.compile(r"\n{2,}")


def extract_text(html_str: str) -> str:
    """Deterministic HTML→text: drop script/style/comments, block tags become
    newlines, all other tags stripped, entities unescaped, whitespace
    normalized (runs of spaces → one space, runs of blank lines → one
    newline, lines stripped, whole result stripped)."""
    s = _SCRIPT_STYLE.sub("", html_str)
    s = _COMMENT.sub("", s)
    s = _BLOCK_CLOSE.sub("\n", s)
    s = _ANY_TAG.sub(" ", s)
    s = _htmlmod.unescape(s)
    s = _SPACES.sub(" ", s)
    lines = [ln.strip() for ln in s.split("\n")]
    s = "\n".join(lines)
    s = _BLANK_LINES.sub("\n", s).strip()
    return s


# ---------------------------------------------------------------------------
# tokenization (whitespace + BPE-ish word/punct regex)
# ---------------------------------------------------------------------------

# word-ish runs OR single non-space punctuation — a BPE-ish pre-tokenizer
_TOKEN_RE = r"[A-Za-z0-9_]+|[^\sA-Za-z0-9_]"
_TOKEN_C = re.compile(_TOKEN_RE)

# Java-regex \s is ASCII-only ([ \t\n\x0B\f\r]) and Spark's F.trim strips
# SPACES only — the pure twins below mirror those semantics exactly
# (round-5 review fix: Python's str.split()/str.strip() are Unicode-wide,
# so a tab-only line or an NBSP-joined pair diverged between the pure and
# Column forms near GOPHER_RULES thresholds).
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
# the Column quality form counts letters via this exact class (ASCII +
# Romanian diacritics), not Python's Unicode-wide isalpha()
_ALPHA_CLASS = re.compile(r"[A-Za-zăâîșțĂÂÎȘȚ]")


def tokenize(text: str) -> list[str]:
    return _TOKEN_C.findall(text)


def token_count(text: str) -> int:
    return len(_TOKEN_C.findall(text))


def whitespace_token_count(text: str) -> int:
    # exact mirror of the Column form: space-trim, then Java-\s split —
    # leading/trailing NON-space whitespace yields empty tokens in both
    return len(_JAVA_WS.split(text.strip(" ")))


def token_count_col(text: Column) -> Column:
    """JVM-side token count: size of regexp_extract_all."""
    return F.size(F.regexp_extract_all(text, F.lit(_TOKEN_RE), 0))


def whitespace_token_count_col(text: Column) -> Column:
    return F.size(F.split(F.trim(text), r"\s+"))


# ---------------------------------------------------------------------------
# language ID — marker-stopword heuristic (en vs ro, matching the corpus)
# ---------------------------------------------------------------------------

EN_MARKERS = ("the", "and", "of", "to", "in", "is", "that", "for", "with")
RO_MARKERS = ("și", "de", "la", "cu", "este", "pentru", "din", "care", "sunt")


def _marker_hits(words: list[str], markers: tuple[str, ...]) -> int:
    mset = set(markers)
    return sum(1 for w in words if w in mset)


def lang_id(text: str) -> str:
    """'en' if English marker-word hits >= Romanian hits else 'ro';
    'und' when no marker at all."""
    words = _JAVA_WS.split(text.lower())
    en = _marker_hits(words, EN_MARKERS)
    ro = _marker_hits(words, RO_MARKERS)
    if en == 0 and ro == 0:
        return "und"
    return "en" if en >= ro else "ro"


def _marker_hits_col(text: Column, markers: tuple[str, ...]) -> Column:
    words = F.split(F.lower(text), r"\s+")
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))


def lang_id_col(text: Column) -> Column:
    en = _marker_hits_col(text, EN_MARKERS)
    ro = _marker_hits_col(text, RO_MARKERS)
    return (
        F.when((en == 0) & (ro == 0), F.lit("und"))
        .when(en >= ro, F.lit("en"))
        .otherwise(F.lit("ro"))
    )


# ---------------------------------------------------------------------------
# quality scoring — length / punctuation / stopword ratios
# ---------------------------------------------------------------------------


def quality_score(text: str) -> float:
    """Composite quality in [0,1]: mean of
      - length_ok   : min(n_chars/500, 1)
      - alpha_ratio : alphabetic chars / chars
      - stop_ratio  : min(stopword_hits / (words/10), 1)  (≥10% markers = 1)
    Deterministic, no floats beyond basic arithmetic (SQL-replicable)."""
    n = len(text)
    if n == 0:
        return 0.0
    length_ok = min(n / 500.0, 1.0)
    alpha = len(_ALPHA_CLASS.findall(text))
    alpha_ratio = alpha / n
    words = _JAVA_WS.split(text.lower())
    nw = len(words)
    if nw == 0:
        stop_ratio = 0.0
    else:
        hits = _marker_hits(words, EN_MARKERS) + _marker_hits(words, RO_MARKERS)
        stop_ratio = min(hits / (nw / 10.0), 1.0) if nw else 0.0
    return (length_ok + alpha_ratio + stop_ratio) / 3.0


def quality_score_col(text: Column) -> Column:
    n = F.length(text).cast("double")
    length_ok = F.least(n / F.lit(500.0), F.lit(1.0))
    # alphabetic chars = length after removing non-letters (ASCII+latin-1 letters)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-zăâîșțĂÂÎȘȚ]", "")).cast(
        "double"
    )
    alpha_ratio = alpha / n
    words = F.split(F.lower(text), r"\s+")
    nw = F.size(words).cast("double")
    hits = (
        _marker_hits_col(text, EN_MARKERS) + _marker_hits_col(text, RO_MARKERS)
    ).cast("double")
    stop_ratio = F.when(nw == 0, F.lit(0.0)).otherwise(
        F.least(hits / (nw / F.lit(10.0)), F.lit(1.0))
    )
    return F.when(n == 0, F.lit(0.0)).otherwise(
        (length_ok + alpha_ratio + stop_ratio) / F.lit(3.0)
    )


# ---------------------------------------------------------------------------
# document fingerprinting — rolling-hash winnowing (min-hash of char k-grams)
# ---------------------------------------------------------------------------

_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3
_MASK64 = (1 << 64) - 1


def fnv1a64(s: str) -> int:
    """FNV-1a 64-bit over UTF-8 bytes — tiny, deterministic, replicable."""
    h = _FNV_OFFSET
    for b in s.encode("utf-8"):
        h ^= b
        h = (h * _FNV_PRIME) & _MASK64
    return h


def doc_fingerprint(text: str, k: int = 8) -> int:
    """Winnowing-style fingerprint: min FNV-1a hash over all char k-grams
    (signed 64-bit so Spark/DuckDB BIGINT agree). Empty/short text → hash of
    the whole text."""
    if len(text) < k:
        h = fnv1a64(text)
    else:
        h = min(fnv1a64(text[i : i + k]) for i in range(len(text) - k + 1))
    return h - (1 << 64) if h >= (1 << 63) else h


# ---------------------------------------------------------------------------
# repetition signals (Gopher-style quality rules) — map-only, no shuffle
# ---------------------------------------------------------------------------
#
# All three are per-document signals computed entirely inside the row with
# higher-order functions (array_sort + zip_with/aggregate): O(n log n) per
# doc, whole-stage codegen, ZERO shuffles — at 100 TB these run at scan
# speed. A pathological 10^5-line doc costs one in-row sort, never a
# cross-row operation.


def _nonempty_lines(text: str) -> list[str]:
    # strip(" ") mirrors F.trim (spaces only): a tab-only line is
    # NON-empty in both forms
    return [l for l in text.split("\n") if l.strip(" ") != ""]


def dup_line_frac(text: str) -> float:
    """Fraction of non-empty lines that are repeats of an earlier line
    (Gopher 'duplicate line fraction'). 0.0 for <=1 line."""
    lines = _nonempty_lines(text)
    if not lines:
        return 0.0
    return (len(lines) - len(set(lines))) / len(lines)


def dup_line_char_frac(text: str) -> float:
    """Fraction of characters (over non-empty lines) that sit in a line
    occurring more than once in the document."""
    lines = _nonempty_lines(text)
    total = sum(len(l) for l in lines)
    if total == 0:
        return 0.0
    from collections import Counter

    cnt = Counter(lines)
    dup = sum(len(l) for l in lines if cnt[l] > 1)
    return dup / total


def top_bigram_frac(text: str) -> float:
    """Occurrences of the most frequent word 2-gram / total 2-grams
    (lower-cased, whitespace tokens). 0.0 when fewer than 2 words."""
    words = [w for w in _JAVA_WS.split(text.lower()) if w]
    grams = [words[i] + " " + words[i + 1] for i in range(len(words) - 1)]
    if not grams:
        return 0.0
    from collections import Counter

    return Counter(grams).most_common(1)[0][1] / len(grams)


def _nonempty_lines_col(text: Column) -> Column:
    return F.filter(F.split(text, "\n"), lambda l: F.trim(l) != F.lit(""))


def dup_line_frac_col(text: Column) -> Column:
    lines = _nonempty_lines_col(text)
    n = F.size(lines).cast("double")
    d = F.size(F.array_distinct(lines)).cast("double")
    return F.when(n == 0, F.lit(0.0)).otherwise((n - d) / n)


def _dup_flags(sorted_arr: Column) -> Column:
    """Per-position flag: this element equals a neighbour in the SORTED
    array (i.e. occurs more than once). NULL sentinels pad the shifted
    copies — impossible as real values, eqNullSafe-compared."""
    n = F.size(sorted_arr)
    null_s = F.array(F.lit(None).cast("string"))
    prev = F.concat(null_s, F.slice(sorted_arr, 1, F.greatest(n - 1, F.lit(0))))
    nxt = F.concat(F.slice(sorted_arr, 2, F.greatest(n - 1, F.lit(0))), null_s)
    prev_eq = F.zip_with(sorted_arr, prev, lambda a, b: a.eqNullSafe(b))
    next_eq = F.zip_with(sorted_arr, nxt, lambda a, b: a.eqNullSafe(b))
    return F.zip_with(prev_eq, next_eq, lambda x, y: x | y)


def dup_line_char_frac_col(text: Column) -> Column:
    lines = F.array_sort(_nonempty_lines_col(text))
    flags = _dup_flags(lines)
    dup_chars = F.aggregate(
        F.zip_with(
            lines,
            flags,
            lambda l, f: F.when(f, F.length(l)).otherwise(F.lit(0)),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    ).cast("double")
    total = F.aggregate(
        lines, F.lit(0).cast("long"), lambda acc, l: acc + F.length(l)
    ).cast("double")
    return F.when(total == 0, F.lit(0.0)).otherwise(dup_chars / total)


def top_bigram_frac_col(text: Column) -> Column:
    words = F.filter(
        F.split(F.lower(text), r"\s+"), lambda w: w != F.lit("")
    )
    n = F.size(words)
    grams = F.filter(
        F.zip_with(
            words,
            F.slice(words, 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        lambda g: g.isNotNull(),
    )
    sg = F.array_sort(grams)
    # single in-row pass over the sorted grams: track current run length,
    # keep the max — the classic sorted-run-length max, O(n) after sort
    best = F.aggregate(
        sg,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(
                    F.lit(1)
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    ).cast("double")
    return F.when(F.size(sg) == 0, F.lit(0.0)).otherwise(best / F.size(sg))


# ---------------------------------------------------------------------------
# PII scrubbing — regex redaction, JVM-side, oracle-replicable
# ---------------------------------------------------------------------------

# Kept RE2-compatible (no backrefs/lookarounds, explicit char classes, a
# literal space instead of \s) so the Spark (java.util.regex) and DuckDB
# (RE2) engines produce identical matches.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


def pii_scrub(text: str) -> tuple[str, int, int]:
    """Pure twin of the Column form: (scrubbed, n_emails, n_phones).
    Emails are redacted first so digit runs inside addresses never count
    as phones."""
    import re

    n_emails = len(re.findall(EMAIL_PATTERN, text))
    t = re.sub(EMAIL_PATTERN, "<EMAIL>", text)
    n_phones = len(re.findall(PHONE_PATTERN, t))
    t = re.sub(PHONE_PATTERN, "<PHONE>", t)
    return t, n_emails, n_phones


def email_count_col(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(EMAIL_PATTERN), F.lit(0)))


def phone_count_col(text: Column) -> Column:
    """Counts phones AFTER email redaction (see pii_scrub)."""
    t = F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>")
    return F.size(F.regexp_extract_all(t, F.lit(PHONE_PATTERN), F.lit(0)))


def pii_scrub_col(text: Column) -> Column:
    t = F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(t, PHONE_PATTERN, "<PHONE>")


# ---------------------------------------------------------------------------
# Gopher-style document quality rules (Rae et al. 2021, Appendix A) —
# map-only, no shuffle
# ---------------------------------------------------------------------------
#
# The published MassiveWeb filter: word-count bounds, mean-word-length
# bounds, symbol-to-word ratio, bullet-line / ellipsis-line fractions,
# alphabetic-word fraction, and a required-stop-word floor, combined with
# the repetition signals above. Every rule is computed inside the row with
# higher-order functions — at 100 TB the composite runs at scan speed, so
# quality filtering never becomes the bottleneck of a corpus build.
#
# Thresholds are the paper's; `gopher_pass` applies them with the three
# repetition signals this module implements (dup-line, dup-line-char,
# top-2-gram — a documented subset of the paper's full n-gram table).

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

GOPHER_RULES = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_ratio": 0.1,
    "max_bullet_frac": 0.9,
    "max_ellipsis_frac": 0.3,
    "min_alpha_word_frac": 0.8,
    "min_stop_hits": 2,
    "max_dup_line_frac": 0.3,
    "max_dup_line_char_frac": 0.2,
    "max_top_bigram_frac": 0.2,
}

_BULLET_PREFIXES = ("•", "- ", "* ")
_ELLIPSIS_SUFFIXES = ("...", "…")


def gopher_stats(text: str) -> dict:
    """Pure twin of the Column forms: the seven document-level Gopher
    signals. Ratios are 0.0 on empty denominators."""
    words = [w for w in _JAVA_WS.split(text) if w]
    nw = len(words)
    mean_wl = (sum(len(w) for w in words) / nw) if nw else 0.0
    n_hash = text.count("#")
    n_ell = len(re.findall(r"\.\.\.", text)) + text.count("…")
    symbol_ratio = ((n_hash + n_ell) / nw) if nw else 0.0
    lines = _nonempty_lines(text)
    nl = len(lines)
    bullet = sum(1 for l in lines if l.lstrip(" ").startswith(_BULLET_PREFIXES))
    ellipsis = sum(
        1 for l in lines if l.rstrip(" ").endswith(_ELLIPSIS_SUFFIXES)
    )
    alpha = sum(1 for w in words if re.search(r"[A-Za-z]", w))
    lw = {w.lower() for w in words}
    stop_hits = sum(1 for s in GOPHER_STOPWORDS if s in lw)
    return {
        "word_count": nw,
        "mean_word_len": mean_wl,
        "symbol_ratio": symbol_ratio,
        "bullet_frac": (bullet / nl) if nl else 0.0,
        "ellipsis_frac": (ellipsis / nl) if nl else 0.0,
        "alpha_word_frac": (alpha / nw) if nw else 0.0,
        "stop_hits": stop_hits,
    }


def gopher_pass(text: str) -> bool:
    """True iff the document clears every Gopher rule (document-level
    stats + the three repetition signals)."""
    s = gopher_stats(text)
    r = GOPHER_RULES
    return (
        r["min_words"] <= s["word_count"] <= r["max_words"]
        and r["min_mean_word_len"] <= s["mean_word_len"] <= r["max_mean_word_len"]
        and s["symbol_ratio"] < r["max_symbol_ratio"]
        and s["bullet_frac"] < r["max_bullet_frac"]
        and s["ellipsis_frac"] < r["max_ellipsis_frac"]
        and s["alpha_word_frac"] > r["min_alpha_word_frac"]
        and s["stop_hits"] >= r["min_stop_hits"]
        and dup_line_frac(text) <= r["max_dup_line_frac"]
        and dup_line_char_frac(text) <= r["max_dup_line_char_frac"]
        and top_bigram_frac(text) <= r["max_top_bigram_frac"]
    )


def _words_col(text: Column) -> Column:
    return F.filter(F.split(text, r"\s+"), lambda w: w != F.lit(""))


def gopher_stats_cols(text: Column) -> dict[str, Column]:
    """The seven document-level Gopher signals as named Columns (share one
    select so Catalyst CSEs the split/filter subtrees)."""
    words = _words_col(text)
    nw = F.size(words)
    nwd = nw.cast("double")
    total_wl = F.aggregate(
        words, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    ).cast("double")
    mean_wl = F.when(nw == 0, F.lit(0.0)).otherwise(total_wl / nwd)
    n_hash = F.length(text) - F.length(F.regexp_replace(text, r"#", ""))
    n_ell = F.size(F.regexp_extract_all(text, F.lit(r"\.\.\."), 0)) + (
        F.length(text) - F.length(F.regexp_replace(text, "…", ""))
    )
    symbol_ratio = F.when(nw == 0, F.lit(0.0)).otherwise(
        (n_hash + n_ell).cast("double") / nwd
    )
    lines = _nonempty_lines_col(text)
    nl = F.size(lines)
    nld = nl.cast("double")
    bullet = F.size(
        F.filter(
            lines,
            lambda l: F.ltrim(l).startswith("•")
            | F.ltrim(l).startswith("- ")
            | F.ltrim(l).startswith("* "),
        )
    )
    ellipsis = F.size(
        F.filter(
            lines,
            lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…"),
        )
    )
    alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    lower_words = F.transform(words, F.lower)
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(lower_words, s),
        )
    )
    return {
        "word_count": nw,
        "mean_word_len": mean_wl,
        "symbol_ratio": symbol_ratio,
        "bullet_frac": F.when(nl == 0, F.lit(0.0)).otherwise(
            bullet.cast("double") / nld
        ),
        "ellipsis_frac": F.when(nl == 0, F.lit(0.0)).otherwise(
            ellipsis.cast("double") / nld
        ),
        "alpha_word_frac": F.when(nw == 0, F.lit(0.0)).otherwise(
            alpha.cast("double") / nwd
        ),
        "stop_hits": stop_hits,
    }


def gopher_pass_col(text: Column) -> Column:
    s = gopher_stats_cols(text)
    r = GOPHER_RULES
    return (
        (s["word_count"] >= r["min_words"])
        & (s["word_count"] <= r["max_words"])
        & (s["mean_word_len"] >= r["min_mean_word_len"])
        & (s["mean_word_len"] <= r["max_mean_word_len"])
        & (s["symbol_ratio"] < r["max_symbol_ratio"])
        & (s["bullet_frac"] < r["max_bullet_frac"])
        & (s["ellipsis_frac"] < r["max_ellipsis_frac"])
        & (s["alpha_word_frac"] > r["min_alpha_word_frac"])
        & (s["stop_hits"] >= r["min_stop_hits"])
        & (dup_line_frac_col(text) <= r["max_dup_line_frac"])
        & (dup_line_char_frac_col(text) <= r["max_dup_line_char_frac"])
        & (top_bigram_frac_col(text) <= r["max_top_bigram_frac"])
    )


# ---------------------------------------------------------------------------
# full Gopher n-gram repetition table (Rae et al. 2021 Table A1, the rows
# DIVERGENCES #28 previously documented as omitted) — map-only, no shuffle
# ---------------------------------------------------------------------------
#
# Word n-grams over the lower-cased Java-\s tokens. Char accounting is
# over WORD characters (separators excluded): total = Σ len(word).
#
#   top n-gram fraction  (n=2..4): max over grams of count(g)·charlen(g),
#     divided by total. The sup form (rather than "chars of THE most
#     frequent gram") is deterministic under count ties — no arbitrary
#     pick — and equal to the textbook value whenever the most frequent
#     gram is unique and longest-weighted.
#   dup n-gram fraction  (n=5..10): chars at word positions covered by
#     ANY n-gram occurring ≥2 times, counted once per position (the
#     paper's "characters contained within all duplicate n-grams"),
#     divided by total.
#
# Gram identity = words joined with \x1f (unit separator) in all three
# lockstep forms (pure / Column / DuckDB oracle), so a pathological word
# containing \x1f aliases identically everywhere; charlen(gram) =
# len(joined) − (n−1).

GOPHER_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
_GRAM_SEP = "\x1f"


def _rep_words(text: str) -> list[str]:
    return [w for w in _JAVA_WS.split(text.lower()) if w]


def top_ngram_char_frac(text: str, n: int) -> float:
    words = _rep_words(text)
    total = sum(len(w) for w in words)
    if total == 0 or len(words) < n:
        return 0.0
    from collections import Counter

    grams = [
        _GRAM_SEP.join(words[i : i + n]) for i in range(len(words) - n + 1)
    ]
    c = Counter(grams)
    best = max(cnt * (len(g) - (n - 1)) for g, cnt in c.items())
    return best / total


def dup_ngram_char_frac(text: str, n: int) -> float:
    words = _rep_words(text)
    total = sum(len(w) for w in words)
    if total == 0 or len(words) < n:
        return 0.0
    from collections import Counter

    grams = [
        _GRAM_SEP.join(words[i : i + n]) for i in range(len(words) - n + 1)
    ]
    c = Counter(grams)
    covered = [False] * len(words)
    for i, g in enumerate(grams):
        if c[g] > 1:
            for j in range(i, i + n):
                covered[j] = True
    dup = sum(len(w) for w, cov in zip(words, covered) if cov)
    return dup / total


def gopher_full_pass(text: str) -> bool:
    """`gopher_pass` plus the full n-gram repetition table."""
    if not gopher_pass(text):
        return False
    for n, mx in GOPHER_TOP_NGRAM_MAX.items():
        if top_ngram_char_frac(text, n) > mx:
            return False
    for n, mx in GOPHER_DUP_NGRAM_MAX.items():
        if dup_ngram_char_frac(text, n) > mx:
            return False
    return True


def _rep_words_col(text: Column) -> Column:
    return F.filter(
        F.split(F.lower(text), r"\s+"), lambda w: w != F.lit("")
    )


def word_ngrams_col(words: Column, k: int, sep: str = " ") -> Column:
    """Word k-grams of an already-split ``words`` array, each joined by
    ``sep``: ``[words[i..i+k-1] for i in 1..size-k+1]``; empty when fewer
    than k words, NULL when ``words`` is NULL (the DuckDB list-slice
    comprehension's NULL behaviour).

    Every n-gram builder in the package goes through here. The k shifted
    ``slice``s are zipped into structs and each struct is joined, so the
    words reach the lambda only as its BOUND variable. A lambda body that
    referred to ``words`` itself (``slice(words, i, k)`` per position)
    would re-evaluate the whole subtree — the regex split of the text —
    once per element: higher-order functions are interpreted without
    common-subexpression elimination, and CollapseProject can inline a
    precomputed words column back into such a lambda — turning an
    O(tokens·k) build into O(tokens²) per document."""
    m = F.greatest(F.size(words) - F.lit(k - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(words, j + 1, m) for j in range(k)])
    return F.transform(
        zipped, lambda s: F.concat_ws(sep, *[s[str(j)] for j in range(k)])
    )


def _total_word_chars(words: Column) -> Column:
    return F.aggregate(
        words, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    )


def top_ngram_char_frac_col(text: Column, n: int) -> Column:
    words = _rep_words_col(text)
    total = _total_word_chars(words).cast("double")
    sg = F.array_sort(word_ngrams_col(words, n, _GRAM_SEP))
    # single pass over the sorted grams: close each run as
    # run·charlen(gram), keep the max (same shape as top_bigram's
    # sorted-run max, weighted by the gram's word-char length)
    charlen = lambda g: (F.length(g) - F.lit(n - 1)).cast("long")
    closed = lambda acc: F.when(
        acc["prev"].isNull(), F.lit(0).cast("long")
    ).otherwise(acc["run"].cast("long") * charlen(acc["prev"]))
    best = F.aggregate(
        sg,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.when(x.eqNullSafe(acc["prev"]), acc["best"])
            .otherwise(F.greatest(acc["best"], closed(acc)))
            .alias("best"),
        ),
        lambda acc: F.greatest(acc["best"], closed(acc)),
    ).cast("double")
    return F.when(total == 0, F.lit(0.0)).otherwise(best / total)


def dup_ngram_char_frac_col(text: Column, n: int) -> Column:
    words = _rep_words_col(text)
    nw = F.size(words)
    total = _total_word_chars(words).cast("double")
    grams = word_ngrams_col(words, n, _GRAM_SEP)
    ng = F.size(grams)
    # (gram, index) sorted by gram → neighbour-equality dup flags →
    # scatter back to gram order by re-sorting on the index
    gi = F.array_sort(
        F.zip_with(
            grams,
            F.sequence(F.lit(1), F.greatest(ng, F.lit(1))),
            lambda g, i: F.struct(g.alias("g"), i.alias("i")),
        )
    )
    sorted_g = F.transform(gi, lambda s: s["g"])
    flags_sorted = _dup_flags(sorted_g)
    by_pos = F.array_sort(
        F.zip_with(
            gi,
            flags_sorted,
            lambda s, f: F.struct(s["i"].alias("i"), f.alias("f")),
        )
    )
    gflags = F.transform(by_pos, lambda p: p["f"])
    # word j (1-based) is covered iff any dup gram i ∈ [j-n+1, j] ∩ [1, ng]
    # — a DILATION of gflags by n: OR of n front-padded shifted copies,
    # each an array-level slice (n static references to gflags, never a
    # per-position slice inside a lambda — see word_ngrams_col's note)
    covered = None
    post = F.array_repeat(F.lit(False), F.lit(n))
    for k in range(n):
        parts = (
            [gflags, post]
            if k == 0
            else [F.array_repeat(F.lit(False), F.lit(k)), gflags, post]
        )
        sh = F.slice(F.concat(*parts), 1, F.greatest(nw, F.lit(1)))
        covered = (
            sh
            if covered is None
            else F.zip_with(covered, sh, lambda a, b: a | b)
        )
    dup_chars = F.aggregate(
        F.zip_with(
            words,
            covered,
            lambda w, c: F.when(c, F.length(w)).otherwise(F.lit(0)),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    ).cast("double")
    return F.when((total == 0) | (nw < n), F.lit(0.0)).otherwise(
        dup_chars / total
    )


def ngram_repetition_cols(text: Column) -> dict[str, Column]:
    """The nine Table-A1 n-gram signals as named Columns."""
    out: dict[str, Column] = {}
    for n in GOPHER_TOP_NGRAM_MAX:
        out[f"top{n}_frac"] = top_ngram_char_frac_col(text, n)
    for n in GOPHER_DUP_NGRAM_MAX:
        out[f"dup{n}_frac"] = dup_ngram_char_frac_col(text, n)
    return out


def gopher_full_pass_col(text: Column) -> Column:
    cond = gopher_pass_col(text)
    for n, mx in GOPHER_TOP_NGRAM_MAX.items():
        cond = cond & (top_ngram_char_frac_col(text, n) <= F.lit(mx))
    for n, mx in GOPHER_DUP_NGRAM_MAX.items():
        cond = cond & (dup_ngram_char_frac_col(text, n) <= F.lit(mx))
    return cond
