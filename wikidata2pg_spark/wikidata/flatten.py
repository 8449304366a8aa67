"""Wikidata entity parsing and flattening — the engine's version of the
reference's normalize step [R]: dump lines → typed entities → relational
tables (labels / claims triples / qualifiers / sitelinks / edges).

Two-layer schema (SURVEY §1.2): the raw layer keeps the full line (nothing
is lost); the typed layer is an explicit StructType — per-language and
per-property keys are MAPs (open schema), the datavalue tagged union is a
VARIANT (heterogeneous JSON: object for entityid/time/quantity/coordinate/
monolingualtext, bare string for string datavalues).

Scale posture: every flattener is explode + projection — narrow columns,
no shuffles until the caller aggregates; nested-schema pruning keeps
untouched branches of the entity struct out of the scan. At 100 TB the
dump parse is one pass, and each normalized table partitions by its own
key (id / property) for downstream joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Typed entity schema. VARIANT for datavalue: the `value` field's JSON type
# depends on datavalue.type, which no static struct can hold losslessly.
ENTITY_SCHEMA = (
    "id STRING, type STRING, lastrevid BIGINT, "
    "labels MAP<STRING, STRUCT<language: STRING, value: STRING>>, "
    "descriptions MAP<STRING, STRUCT<language: STRING, value: STRING>>, "
    "aliases MAP<STRING, ARRAY<STRUCT<language: STRING, value: STRING>>>, "
    "claims MAP<STRING, ARRAY<STRUCT<"
    "mainsnak: STRUCT<snaktype: STRING, property: STRING, datavalue: VARIANT>, "
    "type: STRING, rank: STRING, "
    "qualifiers: MAP<STRING, ARRAY<STRUCT<snaktype: STRING, property: STRING, datavalue: VARIANT>>>, "
    "references: ARRAY<STRUCT<hash: STRING, "
    "snaks: MAP<STRING, ARRAY<STRUCT<snaktype: STRING, property: STRING, datavalue: VARIANT>>>>>"
    ">>>, "
    "sitelinks MAP<STRING, STRUCT<site: STRING, title: STRING, badges: ARRAY<STRING>>>"
)


def clean_dump_lines(raw: DataFrame, line_col: str = "line") -> DataFrame:
    """Dump-format normalization: drop the enclosing '['/']' lines, strip the
    trailing comma each entity line carries inside the array."""
    c = F.col(line_col)
    # ORDER MATTERS: trim whitespace FIRST, then strip the single array
    # comma — a line "{...}, " (whitespace after the comma) would otherwise
    # keep its comma, fail the PERMISSIVE parse, and fall into the null-id
    # path. The DuckDB twin (fixture.entities_cte) applies the same order.
    return raw.filter(~c.isin("[", "]")).select(
        F.regexp_replace(F.rtrim(c), ",$", "").alias(line_col)
    )


def parse_entities(cleaned: DataFrame, line_col: str = "line") -> DataFrame:
    """Typed layer + raw layer side by side (PERMISSIVE: a bad line yields a
    null id, it never kills the pass)."""
    return cleaned.select(
        F.col(line_col).alias("raw_line"),
        F.from_json(F.col(line_col), ENTITY_SCHEMA, {"mode": "PERMISSIVE"}).alias("e"),
    )


def latest_revisions(parsed: DataFrame) -> DataFrame:
    """K11: keep the max-lastrevid version of each id (idempotent re-import).
    The raw line is the deterministic tiebreaker: two dump lines sharing
    (id, lastrevid) resolve identically here and in the SQL oracle
    (ADVICE r1 — row_number on lastrevid alone is nondeterministic)."""
    from pyspark.sql import Window

    # Null ids (unparseable lines) must ALL survive — the "nothing is
    # lost" contract of the raw layer. They share one window partition,
    # where row_number would keep one of them, so the filter keeps every
    # null-id row whatever its rank. One window over `parsed` reads the
    # input once; a separate null-id branch would scan and parse it twice.
    w = Window.partitionBy(F.col("e.id")).orderBy(
        F.col("e.lastrevid").desc(), F.col("raw_line").desc()
    )
    return (
        parsed.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) | F.col("e.id").isNull())
        .drop("_rn")
    )


def labels_table(parsed: DataFrame) -> DataFrame:
    """K2: (id, lang, label)."""
    return parsed.select(
        F.col("e.id").alias("id"), F.explode("e.labels").alias("lang", "l")
    ).select("id", "lang", F.col("l.value").alias("label"))


def descriptions_table(parsed: DataFrame) -> DataFrame:
    """(id, lang, description) — labels' sibling map, same flatten shape."""
    return parsed.select(
        F.col("e.id").alias("id"), F.explode("e.descriptions").alias("lang", "d")
    ).select("id", "lang", F.col("d.value").alias("description"))


def aliases_table(parsed: DataFrame) -> DataFrame:
    """(id, lang, alias_idx, alias) — the MAP<lang, ARRAY<struct>> double
    flatten, position-preserving."""
    per_lang = parsed.select(
        F.col("e.id").alias("id"), F.explode("e.aliases").alias("lang", "als")
    )
    return per_lang.select(
        "id", "lang", F.posexplode("als").alias("alias_idx", "al")
    ).select(
        "id",
        "lang",
        F.col("alias_idx").cast("long").alias("alias_idx"),
        F.col("al.value").alias("alias"),
    )


def sitelinks_table(parsed: DataFrame) -> DataFrame:
    """K8: (id, site, title, n_badges)."""
    return parsed.select(
        F.col("e.id").alias("id"), F.explode("e.sitelinks").alias("site", "s")
    ).select(
        "id",
        "site",
        F.col("s.title").alias("title"),
        F.coalesce(F.size("s.badges"), F.lit(0)).cast("long").alias("n_badges"),
    )


def statements(parsed: DataFrame) -> DataFrame:
    """Exploded statement stream: (id, property, stmt_idx, rank, snaktype,
    datavalue VARIANT, qualifiers). The spine of K4-K10."""
    return (
        parsed.select(F.col("e.id").alias("id"), F.explode("e.claims").alias("property", "stmts"))
        .select("id", "property", F.posexplode("stmts").alias("stmt_idx", "st"))
        .select(
            "id",
            "property",
            F.col("stmt_idx").cast("long").alias("stmt_idx"),
            F.col("st.rank").alias("rank"),
            F.col("st.mainsnak.snaktype").alias("snaktype"),
            F.col("st.mainsnak.datavalue").alias("dv"),
            F.col("st.qualifiers").alias("qualifiers"),
            F.col("st.references").alias("references"),
        )
    )


def datavalue_type(dv: Column) -> Column:
    return F.variant_get(dv, "$.type", "string")


def datavalue_str(dv: Column) -> Column:
    """Dispatch the tagged union to one canonical string (K4's value column)."""
    t = datavalue_type(dv)
    return (
        F.when(t == "wikibase-entityid", F.variant_get(dv, "$.value.id", "string"))
        .when(t == "string", F.variant_get(dv, "$.value", "string"))
        .when(t == "time", F.variant_get(dv, "$.value.time", "string"))
        .when(t == "quantity", F.variant_get(dv, "$.value.amount", "string"))
        .when(
            t == "globecoordinate",
            # F.concat, NOT concat_ws: a missing latitude must yield NULL
            # (matching the oracle's NULL-propagating ||), not a bare
            # longitude string masquerading as a full coordinate. Double
            # rendering matches the oracle for plain-magnitude values —
            # the in-code fixture controls them; E-notation values would
            # need printf on BOTH sides.
            F.concat(
                F.variant_get(dv, "$.value.latitude", "double").cast("string"),
                F.lit(","),
                F.variant_get(dv, "$.value.longitude", "double").cast("string"),
            ),
        )
        .when(t == "monolingualtext", F.variant_get(dv, "$.value.text", "string"))
        .otherwise(F.lit(None).cast("string"))
    )


def triples_from_statements(st: DataFrame) -> DataFrame:
    """Project a statements-shaped frame (statements()/truthy_statements()
    output) to the K4 triple layout."""
    return st.select(
        F.col("id").alias("subject"),
        "property",
        "stmt_idx",
        "rank",
        "snaktype",
        datavalue_type(F.col("dv")).alias("value_type"),
        datavalue_str(F.col("dv")).alias("value"),
    )


def claims_triples(parsed: DataFrame) -> DataFrame:
    """K4: (subject, property, stmt_idx, rank, snaktype, value_type, value)."""
    return triples_from_statements(statements(parsed))


def truthy_statements(parsed: DataFrame) -> DataFrame:
    """K6: Wikibase truthy selection — per (subject, property): preferred
    statements if any exist, else normal; deprecated never."""
    from pyspark.sql import Window

    st = statements(parsed).filter(F.col("rank") != "deprecated")
    w = Window.partitionBy("id", "property")
    has_pref = F.max(F.when(F.col("rank") == "preferred", 1).otherwise(0)).over(w)
    return (
        st.withColumn("_hp", has_pref)
        .filter((F.col("_hp") == 0) | (F.col("rank") == "preferred"))
        .drop("_hp")
    )


def qualifiers_table(parsed: DataFrame) -> DataFrame:
    """K7: (subject, property, stmt_idx, qual_property, qual_idx, qual_snaktype,
    qual_value)."""
    st = statements(parsed).filter(F.col("qualifiers").isNotNull())
    q = st.select(
        F.col("id").alias("subject"),
        "property",
        "stmt_idx",
        F.explode("qualifiers").alias("qual_property", "qsnaks"),
    ).select(
        "subject",
        "property",
        "stmt_idx",
        "qual_property",
        F.posexplode("qsnaks").alias("qual_idx", "qs"),
    )
    return q.select(
        "subject",
        "property",
        "stmt_idx",
        "qual_property",
        F.col("qual_idx").cast("long").alias("qual_idx"),
        F.col("qs.snaktype").alias("qual_snaktype"),
        datavalue_str(F.col("qs.datavalue")).alias("qual_value"),
    )


def references_table(parsed: DataFrame) -> DataFrame:
    """References flatten — the provenance layer of a statement (the last
    piece of statement anatomy next to mainsnak/qualifiers/rank):
    (subject, property, stmt_idx, ref_idx, ref_hash, ref_property,
    snak_idx, ref_snaktype, ref_value). Three nested explodes, each
    position-preserving, all inside the scan task."""
    st = statements(parsed).filter(F.col("references").isNotNull())
    refs = st.select(
        F.col("id").alias("subject"),
        "property",
        "stmt_idx",
        F.posexplode("references").alias("ref_idx", "ref"),
    )
    snak_lists = refs.select(
        "subject",
        "property",
        "stmt_idx",
        F.col("ref_idx").cast("long").alias("ref_idx"),
        F.col("ref.hash").alias("ref_hash"),
        F.explode("ref.snaks").alias("ref_property", "rsnaks"),
    )
    return snak_lists.select(
        "subject",
        "property",
        "stmt_idx",
        "ref_idx",
        "ref_hash",
        "ref_property",
        F.posexplode("rsnaks").alias("snak_idx", "rs"),
    ).select(
        "subject",
        "property",
        "stmt_idx",
        "ref_idx",
        "ref_hash",
        "ref_property",
        F.col("snak_idx").cast("long").alias("snak_idx"),
        F.col("rs.snaktype").alias("ref_snaktype"),
        datavalue_str(F.col("rs.datavalue")).alias("ref_value"),
    )


def item_edges(parsed: DataFrame) -> DataFrame:
    """K10 input: item→item claims as an edge list (src, property, dst)."""
    st = statements(parsed)
    return st.filter(datavalue_type(F.col("dv")) == "wikibase-entityid").select(
        F.col("id").alias("src"),
        "property",
        F.variant_get(F.col("dv"), "$.value.id", "string").alias("dst"),
    )


def dump_diff(parsed_new: DataFrame, parsed_old: DataFrame) -> DataFrame:
    """Classify every entity across two parsed snapshots as added /
    removed / changed / unchanged, with label-language add/remove counts
    and the statement-count delta. Each side is deduped to its latest
    revision first; the diff itself is ONE full outer join on id (both
    dedups and the join share the id hash partitioning, so the whole diff
    costs one exchange per snapshot). The query-registry twin is
    q_wd_dump_diff (queries.py) whose DuckDB oracle mirrors this shape."""
    empty_keys = F.array().cast("array<string>")

    def side(df: DataFrame) -> DataFrame:
        lat = latest_revisions(df).filter(F.col("e.id").isNotNull())
        nclaims = F.coalesce(
            F.aggregate(
                F.map_values(F.col("e.claims")),
                F.lit(0),
                lambda acc, v: acc + F.size(v),
            ),
            F.lit(0),
        )
        return lat.select(
            F.col("e.id").alias("id"),
            F.col("e.lastrevid").alias("rev"),
            F.coalesce(F.map_keys(F.col("e.labels")), empty_keys).alias("lk"),
            nclaims.alias("nc"),
        )

    o = side(parsed_old).select(
        F.col("id").alias("o_id"),
        F.col("rev").alias("old_rev"),
        F.col("lk").alias("o_lk"),
        F.col("nc").alias("o_nc"),
    )
    n = side(parsed_new)
    j = n.join(o, n["id"] == o["o_id"], "full_outer")
    ecol = lambda c: F.coalesce(c, empty_keys)  # noqa: E731
    return j.select(
        F.coalesce(F.col("id"), F.col("o_id")).alias("id"),
        F.when(F.col("o_id").isNull(), "added")
        .when(F.col("id").isNull(), "removed")
        .when(F.col("rev") == F.col("old_rev"), "unchanged")
        .otherwise("changed")
        .alias("status"),
        "old_rev",
        F.col("rev").alias("new_rev"),
        F.size(F.array_except(ecol(F.col("lk")), ecol(F.col("o_lk"))))
        .cast("long")
        .alias("labels_added"),
        F.size(F.array_except(ecol(F.col("o_lk")), ecol(F.col("lk"))))
        .cast("long")
        .alias("labels_removed"),
        (F.coalesce(F.col("nc"), F.lit(0)) - F.coalesce(F.col("o_nc"), F.lit(0)))
        .cast("long")
        .alias("claims_delta"),
    )
