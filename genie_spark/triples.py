"""Triple linearization: parse and format, pure-Python + native Spark columns.

Semantics re-derived from the reference (genie/datamodule/utils/
triplet_utils.py:6-35):

* format: each triple renders as ``" <sub> S <rel> R <obj> O <et>"``
  (leading space, single spaces, stripped fields), concatenated.
* parse: split on the four tags, strip, drop empties, chunk in 3s —
  a trailing chunk of 1–2 parts is dropped; duplicates are dropped when
  set semantics are requested.

Both directions exist twice on purpose: pure Python (inside the generation
UDF and for unit tests) and as native Spark ``Column`` expressions (JVM-side,
whole-stage-codegen-friendly — no Python on the parse path of the 100 TB
pipeline).
"""

from __future__ import annotations

import re
from typing import List, Sequence, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F

TAG_SPLIT_RE = re.compile(r"<sub>|<rel>|<obj>|<et>")
# the same pattern, for Spark's split() (Java regex — identical here)
TAG_SPLIT_PATTERN = "<sub>|<rel>|<obj>|<et>"


def parse_linearization(text: str, dedup: bool = True) -> List[Tuple[str, str, str]]:
    """Linearized string → list of (s, r, o), preserving first-seen order.

    ``.strip(" ")`` (0x20 only), not ``.strip()``: the Column twin uses
    Spark's ``trim``, which removes only spaces — a field containing a
    tab or NBSP must round-trip identically through both forms."""
    parts = [p.strip(" ") for p in TAG_SPLIT_RE.split(text) if p.strip(" ")]
    triples = [tuple(parts[i : i + 3]) for i in range(0, len(parts) - 2, 3)]
    if not dedup:
        return triples
    seen = set()
    out = []
    for t in triples:
        if t not in seen:
            seen.add(t)
            out.append(t)
    return out


def format_linearization(triples: Sequence[Tuple[str, str, str]]) -> str:
    """List of (s, r, o) → linearized string (leading space per triple).
    Fields are trimmed with Spark's semantics (0x20 only — see
    :func:`parse_linearization`)."""
    return "".join(
        " <sub> {} <rel> {} <obj> {} <et>".format(
            s.strip(" "), r.strip(" "), o.strip(" ")
        )
        for s, r, o in triples
    )


# ---------------------------------------------------------------------------
# Native Spark column expressions (JVM-side; used by the 100 TB parse stage)
# ---------------------------------------------------------------------------


def parse_triples_col(text_sql: str) -> Column:
    """The string column the SQL expression ``text_sql`` names →
    Column[array<struct<s,r,o>>], same semantics as
    :func:`parse_linearization`, expressed with higher-order functions so it
    stays inside whole-stage codegen (no UDF). One parsed SQL string:
    built through the Column API, its three lambdas cost ~240 py4j round
    trips a plan."""
    parts = (
        f"filter(transform(split({text_sql}, '{TAG_SPLIT_PATTERN}'), x -> trim(x)), "
        "x -> x != '')"
    )
    return F.expr(
        f"array_distinct(CASE WHEN size({parts}) >= 3"
        f" THEN transform(sequence(0, size({parts}) - 3, 3), i -> named_struct("
        f"'s', element_at({parts}, i + 1), 'r', element_at({parts}, i + 2),"
        f" 'o', element_at({parts}, i + 3)))"
        " ELSE CAST(array() AS array<struct<s:string,r:string,o:string>>) END)"
    )


def format_triples_col(col: Column) -> Column:
    """Column[array<struct<s,r,o>>] → Column[string] linearization.

    transform + array_join, not an aggregate fold: the fold re-copies the
    accumulated string every step (O(n²) bytes per row for wide triple
    sets); this form renders each triple once and concatenates once."""
    return F.array_join(
        F.transform(
            col,
            lambda t: F.concat(
                F.lit(" <sub> "),
                F.trim(t["s"]),
                F.lit(" <rel> "),
                F.trim(t["r"]),
                F.lit(" <obj> "),
                F.trim(t["o"]),
                F.lit(" <et>"),
            ),
        ),
        "",
    )


def ntriple_col(o_literal: Column, base: str = "http://example.org/") -> Column:
    """Format one (``s``, ``r``, object-literal) assertion as an RDF
    N-Triples line (W3C N-Triples: IRI subject/predicate, quoted literal
    object, terminating ' .'). Literal escaping covers backslash and
    double-quote, in that order — the two characters N-Triples requires
    escaped in simple literals. Row-local string concat: runs inside
    whole-stage codegen, zero shuffle, so the export costs one scan at
    any graph size (the KG sink counterpart of the S7/S8 JSONL sinks)."""
    esc = F.regexp_replace(
        F.regexp_replace(o_literal, "\\\\", "\\\\\\\\"), '"', '\\\\"'
    )
    return F.concat(
        F.lit(f"<{base}entity/"), F.col("s").cast("string"), F.lit("> "),
        F.lit(f"<{base}prop/"), F.col("r").cast("string"), F.lit("> \""),
        esc, F.lit('" .'),
    )
