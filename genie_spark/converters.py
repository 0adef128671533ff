"""REBEL / NRE / FewRel → KILT dataset converters, as Spark jobs.

The reference converts each raw benchmark format into KILT JSONL with
driver-side Python loops (reference: genie/datamodule/initial_preprocessing/
convert_rebel_data2kilt.py:69-165, convert_nre_data2kilt.py:66-122,
convert_fewrel_data2kilt.py:66-141, shared annotation in
genie/datamodule/utils/triplet_utils.py:38-68 and
surface_forms_utils.py:180-232). Here each converter is a DataFrame
transform:

* per-article unit extraction (REBEL) is row-local higher-order-function
  work on top of the boundary-aware split — no shuffle;
* the id→surface annotation is one posexplode + three BROADCAST catalog
  joins + one groupBy(sample id) — the only shuffle, keyed by sample id
  (unskewed), instead of the reference's per-row dict lookups;
* output matches :data:`genie_spark.sources.KILT_SCHEMA`, so
  ``write_jsonl`` → ``read_kilt`` round-trips.

Deliberate divergences from the reference, documented once here:

* sample ids are content-derived (``docid-count`` for REBEL, caller-
  supplied for NRE/FewRel) instead of a global running integer — a
  sequential counter is driver-side state a distributed job must not
  have;
* REBEL paragraph-final blocked units are emitted, not dropped (see
  extract.py module docstring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .extract import bounded_units_pos_col
from .triples import format_triples_col

ID_TRIPLE_TYPE = "array<struct<s:string,r:string,o:string>>"


def _cmp_long(a: Column, b: Column) -> Column:
    return F.when(a < b, -1).when(a > b, 1).otherwise(0)


def annotate_kilt(
    df: DataFrame,
    ent_catalog: DataFrame,
    rel_catalog: DataFrame,
) -> DataFrame:
    """(id, input, id_triples) + catalogs → the KILT table.

    Reimplements TripletUtils.process_triple_of_ids +
    WikidataAnnotator.annotate_kilt_dataset (triplet_utils.py:38-68,
    surface_forms_utils.py:180-232): each id resolves to (surface form,
    provenance) via a broadcast catalog join; per-triple status is
    no_match if any position is unmapped, label if any position resolved
    via an 'en_label' provenance, else title; the instance status is the
    weakest triple status; the linearized ``target`` is null for no_match
    instances."""
    base = df.select(F.col("id").cast("string").alias("id"), "input", "id_triples")
    ex = base.select(
        "id", F.posexplode_outer("id_triples").alias("pos", "t")
    ).select("id", "pos", F.col("t.s").alias("s"), F.col("t.r").alias("r"), F.col("t.o").alias("o"))

    ents = ent_catalog.select("id", "name", "provenance")
    rels = rel_catalog.select("id", "name", "provenance")
    e_s = broadcast(ents.select(F.col("id").alias("s"), F.col("name").alias("s_name"),
                                F.col("provenance").alias("s_prov")))
    e_o = broadcast(ents.select(F.col("id").alias("o"), F.col("name").alias("o_name"),
                                F.col("provenance").alias("o_prov")))
    r_r = broadcast(rels.select(F.col("id").alias("r"), F.col("name").alias("r_name"),
                                F.col("provenance").alias("r_prov")))
    joined = ex.join(e_s, "s", "left").join(r_r, "r", "left").join(e_o, "o", "left")

    any_null = (
        F.col("s_prov").isNull() | F.col("r_prov").isNull() | F.col("o_prov").isNull()
    )
    any_label = (
        (F.col("s_prov") == "en_label")
        | (F.col("r_prov") == "en_label")
        | (F.col("o_prov") == "en_label")
    )
    status = (
        F.when(any_null, "no_match").when(any_label, "label").otherwise("title")
    )
    tagged = joined.select(
        "id",
        F.struct(
            F.col("pos").alias("pos"),
            F.struct(
                F.col("s_name").alias("s"),
                F.col("r_name").alias("r"),
                F.col("o_name").alias("o"),
            ).alias("surf"),
            F.struct(
                F.col("s").alias("s"), F.col("r").alias("r"), F.col("o").alias("o")
            ).alias("idt"),
            status.alias("st"),
        ).alias("e"),
    )
    grouped = tagged.groupBy("id").agg(
        F.array_sort(F.collect_list("e")).alias("es")
    )
    # a zero-triple sample contributes one null-pos element (posexplode_outer)
    es = F.filter(F.col("es"), lambda x: x["pos"].isNotNull())
    statuses = F.transform(es, lambda x: x["st"])
    instance = (
        F.when(F.array_contains(statuses, "no_match"), "no_match")
        .when(F.array_contains(statuses, "label"), "label")
        .otherwise("title")
    )
    surface = F.transform(es, lambda x: x["surf"])
    annotated = grouped.select(
        "id",
        F.transform(es, lambda x: x["idt"]).cast(ID_TRIPLE_TYPE).alias("id_triples"),
        surface.cast(ID_TRIPLE_TYPE).alias("surface_triples"),
        instance.alias("instance_matching_status"),
    ).withColumn(
        "target",
        F.when(
            F.col("instance_matching_status") == "no_match", F.lit(None).cast("string")
        ).otherwise(format_triples_col(F.col("surface_triples"))),
    )
    inputs = base.select("id", "input")
    return annotated.join(inputs, "id").select(
        "id", "input", "target", "surface_triples", "id_triples",
        "instance_matching_status",
    )


# ---------------------------------------------------------------------------
# REBEL (convert_rebel_data2kilt.py:69-165)
# ---------------------------------------------------------------------------

# article row as loaded from REBEL jsonl (explicit schema; no inference)
REBEL_ENTITY = "struct<uri:string,surfaceform:string,boundaries:array<bigint>>"
REBEL_SCHEMA = (
    f"docid string, uri string, text string, entities array<{REBEL_ENTITY}>, "
    f"triples array<struct<subject:{REBEL_ENTITY},"
    f"predicate:struct<uri:string,surfaceform:string>,object:{REBEL_ENTITY}>>"
)


def rebel_units(df: DataFrame) -> DataFrame:
    """Article rows → one row per emitted unit with its gold id-triples:
    (docid, uri, unit_idx, id, input, id_triples). Entirely row-local
    (boundary-aware split fold + HOF filters); the reference semantics
    (convert_rebel_data2kilt.py:81-143):

    * split points inside any entity boundary are suppressed;
    * a unit keeps entities whose END falls in its (start, end] span,
      ordered by boundary start;
    * per entity, triples with that entity as subject whose subject AND
      object ends fall in the span, ordered by object boundary start;
    * id-triples dedup to first occurrence, order preserved;
    * units with no triples are dropped; ``count`` indexes emitted units.
    """
    df = df.filter(F.size("triples") > 0)
    bounds = F.transform(
        F.col("entities"),
        lambda en: F.struct(
            F.element_at(en["boundaries"], 1).alias("s"),
            F.element_at(en["boundaries"], 2).alias("e"),
        ),
    )
    units = bounded_units_pos_col(bounds)

    def unit_triples(u: Column) -> Column:
        in_span = lambda b: (u["s"] < F.element_at(b, 2)) & (
            F.element_at(b, 2) <= u["e"]
        )
        ents_in = F.array_sort(
            F.filter(F.col("entities"), lambda en: in_span(en["boundaries"])),
            lambda a, b: _cmp_long(
                F.element_at(a["boundaries"], 1), F.element_at(b["boundaries"], 1)
            ),
        )
        kept = F.flatten(
            F.transform(
                ents_in,
                lambda en: F.array_sort(
                    F.filter(
                        F.col("triples"),
                        lambda t: (t["subject"] == en)
                        & in_span(t["subject"]["boundaries"])
                        & in_span(t["object"]["boundaries"]),
                    ),
                    lambda a, b: _cmp_long(
                        F.element_at(a["object"]["boundaries"], 1),
                        F.element_at(b["object"]["boundaries"], 1),
                    ),
                ),
            )
        )
        ids = F.transform(
            kept,
            lambda t: F.struct(
                t["subject"]["uri"].alias("s"),
                t["predicate"]["uri"].alias("r"),
                t["object"]["uri"].alias("o"),
            ),
        )
        # first-occurrence dedup, order preserved (the reference's
        # code_triples_set); triple sets per unit are tiny, so the O(n²)
        # fold is row-local noise
        deduped = F.aggregate(
            ids,
            F.array().cast(ID_TRIPLE_TYPE),
            lambda acc, t: F.when(F.array_contains(acc, t), acc).otherwise(
                F.array_append(acc, t)
            ),
        )
        return F.struct(u["unit"].alias("unit"), deduped.alias("id_triples"))

    with_units = df.select(
        "docid",
        "uri",
        F.filter(
            F.transform(units, unit_triples), lambda x: F.size(x["id_triples"]) > 0
        ).alias("_units"),
    )
    return (
        with_units.select(
            "docid", "uri", F.posexplode("_units").alias("unit_idx", "u")
        )
        .select(
            "docid",
            "uri",
            "unit_idx",
            F.concat(F.col("uri"), F.lit("-"), F.col("unit_idx")).alias("id"),
            F.col("u.unit").alias("input"),
            F.col("u.id_triples").alias("id_triples"),
        )
    )


def convert_rebel(
    df: DataFrame, ent_catalog: DataFrame, rel_catalog: DataFrame
) -> DataFrame:
    """REBEL articles → KILT rows (convert_rebel_data2kilt.py:69-165)."""
    return annotate_kilt(rebel_units(df), ent_catalog, rel_catalog)


# ---------------------------------------------------------------------------
# NRE (convert_nre_data2kilt.py:66-122)
# ---------------------------------------------------------------------------

NRE_SCHEMA = "sample_id bigint, x string, y array<string>"


def convert_nre(
    df: DataFrame, ent_catalog: DataFrame, rel_catalog: DataFrame
) -> DataFrame:
    """NRE samples (x = input text, y = flat [s,r,o,s,r,o,…] id list) →
    KILT rows. Triples chunk y in threes, dropping a trailing 1–2-id
    remainder (the reference's range(0, len(y)-2, 3))."""
    n = F.size("y")
    triples = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(0), n - F.lit(3), F.lit(3)),
            lambda i: F.struct(
                F.element_at(F.col("y"), i + 1).alias("s"),
                F.element_at(F.col("y"), i + 2).alias("r"),
                F.element_at(F.col("y"), i + 3).alias("o"),
            ),
        ),
    ).otherwise(F.array().cast(ID_TRIPLE_TYPE))
    base = df.select(
        F.col("sample_id").alias("id"),
        F.col("x").alias("input"),
        triples.alias("id_triples"),
    )
    return annotate_kilt(base, ent_catalog, rel_catalog)


# ---------------------------------------------------------------------------
# Geo-NRE (convert_nre_geo_data2kilt.py:66-127): the NRE conversion over a
# trip-split pickle, with the entity_tokens_mask carried through as metadata
# ---------------------------------------------------------------------------

GEO_NRE_SCHEMA = (
    "sample_id bigint, x string, y array<string>, "
    "entity_tokens_mask array<bigint>"
)


def read_nre_geo_pickle(spark, path: str) -> DataFrame:
    """Trip-split pickle — a list of ``(x, y, entity_tokens_mask)`` tuples
    (convert_nre_geo_data2kilt.py:72-79) — as Geo-NRE sample rows; ids are
    the enumerate index, exactly as the reference assigns them.

    Driver-side ``pickle.load``: trip splits are small curated files, not
    the 100 TB path, and the reference loads the whole pickle in one
    process too."""
    import pickle

    with open(path, "rb") as f:
        dataset = pickle.load(f)
    rows = [
        (i, x, [str(t) for t in y], [int(b) for b in mask])
        for i, (x, y, mask) in enumerate(dataset)
    ]
    return spark.createDataFrame(rows, GEO_NRE_SCHEMA)


def convert_nre_geo(
    df: DataFrame, ent_catalog: DataFrame, rel_catalog: DataFrame
) -> DataFrame:
    """Geo-NRE trip split → KILT rows: the composed path the reference's
    convert_nre_geo_data2kilt.py runs — flat-id-list chunking (same as
    NRE) + the catalog annotation join (annotate_kilt ≙
    TripletUtils.process_triple_of_ids with the same status roll-up,
    :89-109) — with ``entity_tokens_mask`` joined back onto the KILT row
    (the reference keeps it under meta_obj, :79)."""
    kilt = convert_nre(df.select("sample_id", "x", "y"), ent_catalog, rel_catalog)
    masks = df.select(
        F.col("sample_id").cast("string").alias("id"), "entity_tokens_mask"
    )
    return kilt.join(masks, "id")


# ---------------------------------------------------------------------------
# FewRel (convert_fewrel_data2kilt.py:66-141)
# ---------------------------------------------------------------------------

FEWREL_SCHEMA = (
    "sample_id bigint, rel_id string, tokens array<string>, "
    "h struct<name:string,id:string>, t struct<name:string,id:string>"
)


def convert_fewrel(
    df: DataFrame, ent_catalog: DataFrame, rel_catalog: DataFrame
) -> DataFrame:
    """FewRel instances (tokens + head/tail entity + relation id) → KILT
    rows: input is the space-joined tokens; exactly one id-triple
    (head.id, rel_id, tail.id) per sample."""
    base = df.select(
        F.col("sample_id").alias("id"),
        F.array_join("tokens", " ").alias("input"),
        F.array(
            F.struct(
                F.col("h.id").alias("s"),
                F.col("rel_id").alias("r"),
                F.col("t.id").alias("o"),
            )
        ).alias("id_triples"),
    )
    return annotate_kilt(base, ent_catalog, rel_catalog)
