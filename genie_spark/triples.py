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


def parse_triples_col(col: Column) -> Column:
    """Column[string] → Column[array<struct<s,r,o>>], same semantics as
    :func:`parse_linearization`, expressed with higher-order functions so it
    stays inside whole-stage codegen (no UDF)."""
    parts = F.filter(
        F.transform(F.split(col, TAG_SPLIT_PATTERN), lambda x: F.trim(x)),
        lambda x: x != F.lit(""),
    )
    n = F.size(parts)
    triples = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(0), n - F.lit(3), F.lit(3)),
            lambda i: F.struct(
                F.element_at(parts, i + 1).alias("s"),
                F.element_at(parts, i + 2).alias("r"),
                F.element_at(parts, i + 3).alias("o"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<s:string,r:string,o:string>>"))
    return F.array_distinct(triples)


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


def triple_key_col(col: Column) -> Column:
    """array<struct<s,r,o>> → array<string> of 's␞r␞o' keys — a flat form
    that survives set ops / hashing identically in Spark and DuckDB.
    NULL fields map to a sentinel: concat_ws silently SKIPS NULLs, which
    would let distinct structs (s, NULL, o) and (s, o, NULL) collide on
    one key and corrupt set counts."""
    return F.transform(
        col,
        lambda t: F.concat_ws(
            "␞",
            F.coalesce(t["s"], F.lit("␀")),
            F.coalesce(t["r"], F.lit("␀")),
            F.coalesce(t["o"], F.lit("␀")),
        ),
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
