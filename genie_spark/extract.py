"""HTML → text → sentence extraction (the byte-identical-per-url stage).

The per-row invariant (BASELINE.json input_hint) is that extracted text is
byte-identical per url across runs and parallelism levels. Everything here
is a pure function of the row, implemented twice with identical semantics:

* pure Python (unit tests, the reference oracle path);
* native Spark Column expressions (``regexp_replace`` / ``split`` /
  ``posexplode``) so the 100 TB path is JVM-side, codegen'd, and
  pushdown-friendly — no Python worker in the extraction stage.

Sentence-splitting semantics re-derived from the reference's REBEL
preprocessing (reference: genie/datamodule/initial_preprocessing/
convert_rebel_data2kilt.py:81-105,147):

* paragraphs are ``\\n``-separated; empty paragraphs are skipped;
* sentences split on ``(?<=[.])\\s`` (whitespace preceded by a dot);
* each extracted unit keeps a trailing single space (the reference
  accumulates ``sentence + " "``), with ``\\s{2,}`` collapsed to one space.

The reference's boundary-aware "don't split inside an entity name" rule
(convert_rebel_data2kilt.py:98-105) applies to ANNOTATED input: a split
point whose accumulated character position falls strictly inside a gold
entity boundary is suppressed, merging the sentence into the next unit.
:func:`split_sentences_bounded` / :func:`sentences_bounded_df` implement
it for inputs that carry boundary spans; plain web input (no annotations)
uses the unbounded split. One deliberate divergence: the reference drops
a paragraph-final unit whose last split point is still blocked (text is
reset at the next paragraph without emission, :141-143); we flush it as
its own unit — suppression can merge sentences but never lose text.
"""

from __future__ import annotations

import re
from typing import List, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Whitespace class pinned to JAVA's \s = [ \t\n\x0B\f\r] (ASCII only).
# Python's \s additionally matches Unicode whitespace (NBSP \xa0,
# ideographic space, …), so a bare \s in the Python twin would silently
# break the byte-identical-per-url invariant on real web text — the JVM
# column path is canonical (it runs the 100 TB corpus), and the twin
# must match IT, not the other way around.
_JWS = " \\t\\n\\x0b\\f\\r"
_P_CLOSE_RE = re.compile(f"</p[{_JWS}]*>")
_TAG_RE = re.compile(r"<[^>]*>")
_SENT_SPLIT_RE = re.compile(f"(?<=[.])[{_JWS}]")
_WS_RE = re.compile(f"[{_JWS}]{{2,}}")

# Java-regex forms (a bare \s IS this class in Java)
P_CLOSE_PATTERN = "</p\\s*>"
TAG_PATTERN = "<[^>]*>"
SENT_SPLIT_PATTERN = "(?<=[.])\\s"
WS_PATTERN = "\\s{2,}"


def html_to_text(html: str) -> str:
    """Strip markup: </p> becomes a newline, all other tags vanish, basic
    entities unescape, trailing newlines trimmed."""
    text = _P_CLOSE_RE.sub("\n", html)
    text = _TAG_RE.sub("", text)
    text = text.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")
    return text.rstrip("\n")


def split_sentences(text: str) -> List[str]:
    """Text → ordered sentence units, each whitespace-collapsed with a
    trailing single space (reference accumulation semantics)."""
    out = []
    for para in text.split("\n"):
        if len(para) == 0:
            continue
        for sent in _SENT_SPLIT_RE.split(para):
            # .strip(" "), not .strip(): Spark's trim removes only 0x20
            # (measured), while Python strip() eats tabs/NBSP — a
            # tab-only unit would diverge between the twins
            if not sent.strip(" "):
                continue
            out.append(_WS_RE.sub(" ", sent + " "))
    return out


def split_sentences_bounded(
    text: str, boundaries: List[Tuple[int, int]]
) -> List[str]:
    """Boundary-aware split (reference convert_rebel_data2kilt.py:81-105):
    candidate sentences accumulate ``sentence + " "``; the split point is
    suppressed while the accumulated position falls strictly inside any
    (start, end) boundary, so entity names containing dots never straddle
    units. Positions are the reference's accumulated-text arithmetic
    (every sentence contributes len+1, paragraph newlines count as the
    appended space). A paragraph-final blocked unit is flushed, not
    dropped (see module docstring)."""
    return [u for (u, _, _) in split_sentences_bounded_pos(text, boundaries)]


def split_sentences_bounded_pos(
    text: str, boundaries: List[Tuple[int, int]]
) -> List[Tuple[str, int, int]]:
    """:func:`split_sentences_bounded` plus each unit's accumulated-text
    span [start, end) — the reference's (prev_len, len(text)+prev_len)
    coordinates that entity/triple boundary predicates are evaluated
    against (convert_rebel_data2kilt.py:96-119)."""
    out: List[Tuple[str, int, int]] = []
    pos = 0
    for para in text.split("\n"):
        if len(para) == 0:
            continue
        acc = ""
        start = pos
        for sent in _SENT_SPLIT_RE.split(para):
            pos += len(sent) + 1
            acc += sent + " "
            if any(s < pos < e for (s, e) in boundaries):
                continue  # split point inside an entity name: keep merging
            if acc.strip(" "):  # match Spark trim: 0x20 only
                out.append((_WS_RE.sub(" ", acc), start, pos))
            acc = ""
            start = pos
        if acc.strip(" "):  # paragraph ended while blocked: flush
            out.append((_WS_RE.sub(" ", acc), start, pos))
    return out


# ---------------------------------------------------------------------------
# Spark-native versions
# ---------------------------------------------------------------------------


def html_to_text_col() -> Column:
    """The ``html`` column (binary or string) → Column[string] text;
    JVM-side only."""
    text = F.regexp_replace(F.col("html").cast("string"), P_CLOSE_PATTERN, "\n")
    text = F.regexp_replace(text, TAG_PATTERN, "")
    text = F.replace(text, F.lit("&lt;"), F.lit("<"))
    text = F.replace(text, F.lit("&gt;"), F.lit(">"))
    text = F.replace(text, F.lit("&amp;"), F.lit("&"))
    return F.regexp_replace(text, "\\n+$", "")


def _sql_str(value: str) -> str:
    """``value`` as a Spark SQL string literal: the parser reads a
    backslash as an escape, so both it and the quote are escaped."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


# the split as one parsed SQL expression: its four higher-order-function
# lambdas built through the Column API cost ~200 py4j round trips a plan
_SENTENCES_SQL = (
    "transform("
    "filter(flatten(transform("
    "filter(split(text, '\\n'), p -> length(p) > 0), "
    f"p -> split(p, {_sql_str(SENT_SPLIT_PATTERN)}))), s -> trim(s) != ''), "
    f"s -> regexp_replace(concat(s, ' '), {_sql_str(WS_PATTERN)}, ' '))"
)


def sentences_df(pages: DataFrame) -> DataFrame:
    """pages(url, ..., text) → one row per sentence:
    (url, sent_idx, input) with the same semantics as
    :func:`split_sentences`. Pure higher-order functions + one generator
    expression — stays inside whole-stage codegen, no Python."""
    return pages.selectExpr("*", f"posexplode({_SENTENCES_SQL}) AS (sent_idx, input)")


def bounded_units_pos_col(bounds: Column) -> Column:
    """Column twin of :func:`split_sentences_bounded_pos` over the
    ``text`` column: one O(n) aggregate fold per row (accumulator
    struct(pos, start, acc, out)), entirely JVM-side. ``bounds`` is
    array<struct<s:long, e:long>>; returns
    array<struct<unit:string, s:long, e:long>>. Elements are the
    paragraph's sentences plus a paragraph-end sentinel that flushes a
    still-blocked accumulation."""
    paras = F.filter(F.split(F.col("text"), "\n"), lambda p: F.length(p) > 0)
    elems = F.flatten(
        F.transform(
            paras,
            lambda p: F.concat(
                F.transform(
                    F.split(p, SENT_SPLIT_PATTERN),
                    lambda s: F.struct(s.alias("sent"), F.lit(False).alias("pend")),
                ),
                F.array(
                    F.struct(F.lit("").alias("sent"), F.lit(True).alias("pend"))
                ),
            ),
        )
    )
    out_type = "array<struct<unit:string,s:bigint,e:bigint>>"
    init = F.struct(
        F.lit(0).cast("long").alias("pos"),
        F.lit(0).cast("long").alias("start"),
        F.lit("").alias("acc"),
        F.array().cast(out_type).alias("out"),
    )

    def emit(out: Column, acc: Column, start: Column, end: Column) -> Column:
        return F.when(F.trim(acc) == "", out).otherwise(
            F.array_append(
                out,
                F.struct(
                    F.regexp_replace(acc, WS_PATTERN, " ").alias("unit"),
                    start.alias("s"),
                    end.alias("e"),
                ),
            )
        )

    def step(st: Column, x: Column) -> Column:
        pos2 = st["pos"] + F.length(x["sent"]) + 1
        acc2 = F.concat(st["acc"], x["sent"], F.lit(" "))
        blocked = F.exists(bounds, lambda b: (b["s"] < pos2) & (pos2 < b["e"]))
        return (
            F.when(
                x["pend"],
                F.struct(
                    st["pos"].alias("pos"),
                    st["pos"].alias("start"),
                    F.lit("").alias("acc"),
                    emit(st["out"], st["acc"], st["start"], st["pos"]).alias("out"),
                ),
            )
            .when(
                blocked,
                F.struct(
                    pos2.alias("pos"),
                    st["start"].alias("start"),
                    acc2.alias("acc"),
                    st["out"].alias("out"),
                ),
            )
            .otherwise(
                F.struct(
                    pos2.alias("pos"),
                    pos2.alias("start"),
                    F.lit("").alias("acc"),
                    emit(st["out"], acc2, st["start"], pos2).alias("out"),
                )
            )
        )

    return F.aggregate(elems, init, step, lambda st: st["out"])


def sentences_bounded_df(pages: DataFrame) -> DataFrame:
    """Annotated pages(…, text, boundaries) → one row per unit
    (…, sent_idx, input) with boundary-aware merging — the KILT-table
    rebuild path for gold-annotated sources. The units are the Column
    twin of :func:`split_sentences_bounded`."""
    units = F.transform(
        bounded_units_pos_col(F.col("boundaries")), lambda u: u["unit"]
    )
    return (
        pages.withColumn("_units", units)
        .select("*", F.posexplode("_units").alias("sent_idx", "input"))
        .drop("_units")
    )
