"""The reference's city and organization index pipelines end-to-end
(SURVEY §3.1; sparql/wikidata-city.sparql, wikidata-organization.sparql +
the wikidata_index.py doc pipeline with prefect.yaml configs).

city:  P279* subtree semi-join (J5) -> P31 items -> GROUP_CONCAT feature
       codes (A3) -> F7 rank-min + F6 geopoint postprocess -> F4 label
org:   UNION class branches (J3) + VALUES countries (J4) -> GROUP_CONCAT
       DISTINCT dates (A4) -> F2 date cleanup -> de->en description
       fallback (J6/F14) -> F5 label
Both end with P3 id canonicalization, matching the reference pipeline.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.functions import scalar
from prosnet_prefect_pipelines_spark.operators import aggregates as A
from prosnet_prefect_pipelines_spark.operators import graph as G
from prosnet_prefect_pipelines_spark.operators import relational as R
from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.plans.tpch_graph import TRIPLES_CTE, triples_from_tpch
from prosnet_prefect_pipelines_spark.session import memo

CITY_ROOT = "urn:class/7"

# opt r12 (VERDICT r11 item 4): the P279 subtree of the city root is an
# ontology-closure fixture of the (memoized) triples table — one bounded
# BFS per (session, sf_dir), not per plan build — and the five
# scalar-builder Column trees are session-invariant unresolved
# expressions over fixed field names, built once per session. Both are
# session.memo entries, so bench repeat-cold passes pay the full build.


def _city_subtree_cls(spark, triples, sf_dir) -> list[str]:
    """Sorted class list of the reflexive P279* subtree under CITY_ROOT.

    Memoized as a plain Python list (ontology-bounded — it feeds a
    broadcast join either way), so a memo hit builds the subtree frame
    from a local relation with zero Spark jobs."""

    def build():
        edges = R.triple_pattern(triples, "?src", "wdt:P279", "?dst")
        return [
            r[0]
            for r in G.descendants(edges, [CITY_ROOT], reflexive=True).collect()
        ]

    return memo(spark, ("q_index.city_subtree", sf_dir), build)


def _city_post_cols(spark):
    """(post select list, label Column) — the scalar-builder trees."""

    def build():
        # [lat, lng] emitted as scalar doubles: list-typed output columns
        # break the harness canonicalizer's sort; the array shape is
        # pytest-covered
        gp = scalar.geopoint_creator(F.col("coord"))
        cols = [
            scalar.wikidata_id_rebuild(F.col("item")).alias("id"),
            F.col("name"),
            F.col("country"),
            scalar.feature_code_postprocessing(F.col("feature_code")).alias(
                "feature_code"
            ),
            F.element_at(gp, 1).alias("coord_lat"),
            F.element_at(gp, 2).alias("coord_lng"),
        ]
        label = scalar.label_creator_place(
            F.col("name"), F.col("country"), F.col("feature_code")
        )
        return cols, label

    return memo(spark, ("q_index.city_cols",), build)


CITY_INDEX_SQL = f"""
WITH RECURSIVE
{TRIPLES_CTE.strip().rstrip()},
edges AS (SELECT s AS src, o AS dst FROM triples WHERE p = 'wdt:P279'),
-- descendants of the city root class == filter of the reflexive closure
subtree(c) AS (
    SELECT '{CITY_ROOT}'
    UNION
    SELECT e.src FROM edges e JOIN subtree t ON e.dst = t.c
),
items AS (
    SELECT DISTINCT s AS item FROM triples
    WHERE p = 'wdt:P31' AND o IN (SELECT c FROM subtree)
),
fc AS (
    SELECT t.s AS item, string_agg(t.o, ' ' ORDER BY t.o) AS feature_code
    FROM triples t JOIN items i ON t.s = i.item
    WHERE t.p = 'wdt:P2452' GROUP BY t.s
),
lbl AS (SELECT s AS item, o AS name FROM triples WHERE p = 'ex:label' AND o_lang IS NULL),
nat AS (SELECT s AS item, o AS nation FROM triples WHERE p = 'ex:nation'),
natlbl AS (SELECT s AS nation, o AS country FROM triples WHERE p = 'ex:label' AND o_lang = 'en'),
coord AS (SELECT s AS item, o AS coord FROM triples WHERE p = 'wdt:P625'),
bindings AS (
    SELECT i.item, l.name, nl.country, f.feature_code, c.coord
    FROM items i
    LEFT JOIN lbl l ON i.item = l.item
    LEFT JOIN nat n ON i.item = n.item
    LEFT JOIN natlbl nl ON n.nation = nl.nation
    LEFT JOIN fc f ON i.item = f.item
    LEFT JOIN coord c ON i.item = c.item
),
rank_list AS (SELECT {"[" + ", ".join(f"'{c}'" for c in scalar.FEATURE_CODES_RANK) + "]"} AS r),
parsed AS (
    SELECT *,
           list_transform(
               list_filter(string_split_regex(trim(feature_code), '\\s+'),
                           x -> x LIKE 'P%' OR x LIKE 'A%'),
               x -> string_split(x, '.')[2]) AS pa,
           string_split_regex(trim(feature_code), '\\s+') AS codes
    FROM bindings
),
post AS (
    SELECT 'http://www.wikidata.org/entity/' || regexp_extract(item, '([^/]+)$', 1) AS id,
           name, country,
           CASE WHEN feature_code IS NULL THEN NULL
                WHEN len(pa) > 0
                THEN r[list_min(list_filter(list_transform(pa, x -> list_position(r, x)), p2 -> p2 > 0))]
                WHEN len(codes) > 0 AND length(codes[1]) > 0 THEN codes[1]
           END AS feature_code,
           CASE WHEN coord LIKE 'Point%'
                THEN CAST(regexp_extract(coord, 'Point\\((\\S+) (\\S+)\\)', 2) AS DOUBLE)
           END AS coord_lat,
           CASE WHEN coord LIKE 'Point%'
                THEN CAST(regexp_extract(coord, 'Point\\((\\S+) (\\S+)\\)', 1) AS DOUBLE)
           END AS coord_lng
    FROM parsed, rank_list
)
SELECT id, name, country, feature_code, coord_lat, coord_lng,
       name
       || CASE WHEN country IS NOT NULL THEN ' (' || country || ')' ELSE '' END
       || CASE WHEN feature_code IS NOT NULL THEN ' - ' || feature_code ELSE '' END AS label
FROM post
"""


@register("city_index_docs", oracle=CITY_INDEX_SQL,
          covers=["J5", "J1", "J2", "A3", "O6", "F7", "F6", "F4", "P3", "P4", "P5"])
def q_city_index_docs(spark, sf_dir):
    """Flagship #2: the wikidata-city index — subclass-closure semi-join,
    grouped feature codes, rank-min + geopoint postprocessing, place labels
    (sparql/wikidata-city.sparql + prefect.yaml:236-264 config)."""
    triples = triples_from_tpch(spark, sf_dir)
    # `?cls wdt:P279* <root>` as single-source reachability, not a
    # filtered all-pairs closure: O(|subtree|) work instead of
    # O(|V| * depth) — the plan that survives a 100x scale-up
    # (memoized per (app, sf_dir) — see _city_subtree_cls)
    subtree = spark.createDataFrame(
        [(c,) for c in _city_subtree_cls(spark, triples, sf_dir)], "cls string"
    )

    p31 = R.triple_pattern(triples, "?item", "wdt:P31", "?cls")
    items = p31.join(F.broadcast(subtree), on="cls").select("item").distinct()

    fc = (
        R.triple_pattern(triples, "?item", "wdt:P2452", "?code")
        .join(items, on="item")
        .groupBy("item")
        .agg(A.group_concat("code").alias("feature_code"))
    )
    lbl = triples.filter((F.col("p") == "ex:label") & F.col("o_lang").isNull()).select(
        F.col("s").alias("item"), F.col("o").alias("name")
    )
    nat = R.triple_pattern(triples, "?item", "ex:nation", "?nation")
    natlbl = triples.filter((F.col("p") == "ex:label") & (F.col("o_lang") == "en")).select(
        F.col("s").alias("nation"), F.col("o").alias("country")
    )
    coord = R.triple_pattern(triples, "?item", "wdt:P625", "?coord")

    bindings = (
        items.join(lbl, on="item", how="left")
        .join(nat, on="item", how="left")
        .join(F.broadcast(natlbl), on="nation", how="left")
        .join(fc, on="item", how="left")
        .join(coord, on="item", how="left")
    )
    cols, label = _city_post_cols(spark)
    return bindings.select(*cols).withColumn("label", label)


ORG_COUNTRIES = ["urn:nation/3", "urn:nation/7", "urn:nation/11", "urn:nation/19"]

ORG_INDEX_SQL = f"""
WITH {TRIPLES_CTE.strip().rstrip()},
branch_orgs AS (
    SELECT DISTINCT s AS org FROM (
        SELECT s FROM triples WHERE p = 'wdt:P31' AND o IN ('ex:orgtype1', 'ex:orgtype2', 'ex:orgtype3')
        UNION ALL
        SELECT s FROM triples WHERE p = 'wdt:P31' AND o = 'ex:orgtype5'
    ) u
),
located AS (
    SELECT b.org FROM branch_orgs b
    JOIN triples c ON b.org = c.s AND c.p = 'ex:country'
    WHERE c.o IN ({", ".join(f"'{x}'" for x in ORG_COUNTRIES)})
),
en AS (SELECT s, o FROM triples WHERE p = 'ex:label' AND o_lang = 'en'),
de AS (SELECT s, o FROM triples WHERE p = 'ex:label' AND o_lang = 'de'),
incep AS (
    SELECT s AS org, string_agg(DISTINCT o, ' ' ORDER BY o) AS inception
    FROM triples WHERE p = 'wdt:P571' GROUP BY s
),
diss AS (
    SELECT s AS org, string_agg(DISTINCT o, ' ' ORDER BY o) AS dissolvement
    FROM triples WHERE p = 'wdt:P576' GROUP BY s
),
bindings AS (
    SELECT l.org, en.o AS name, coalesce(de.o, en.o) AS description,
           i.inception, d.dissolvement
    FROM located l
    LEFT JOIN en ON l.org = en.s
    LEFT JOIN de ON l.org = de.s
    LEFT JOIN incep i ON l.org = i.org
    LEFT JOIN diss d ON l.org = d.org
),
clean AS (
    SELECT 'http://www.wikidata.org/entity/' || regexp_extract(org, '([^/]+)$', 1) AS id,
           name, description,
           CASE WHEN inception IS NULL THEN NULL ELSE
               array_to_string(list_transform(string_split_regex(inception, '\\s+'),
                   x -> CASE WHEN x LIKE 'http%' THEN NULL ELSE split_part(x, 'T', 1) END), ' / ')
           END AS inception,
           CASE WHEN dissolvement IS NULL THEN NULL ELSE
               array_to_string(list_transform(string_split_regex(dissolvement, '\\s+'),
                   x -> CASE WHEN x LIKE 'http%' THEN NULL ELSE split_part(x, 'T', 1) END), ' / ')
           END AS dissolvement
    FROM bindings
),
labeled AS (
    SELECT id, name, description, inception, dissolvement,
           name || CASE WHEN inception IS NOT NULL AND length(inception) > 4
                        THEN ' (' || inception ELSE '' END AS l1
    FROM clean
),
labeled2 AS (
    SELECT id, name, description, inception, dissolvement,
           CASE WHEN dissolvement IS NOT NULL AND length(dissolvement) > 4
                THEN l1 || CASE WHEN contains(l1, '(') THEN ' - ' ELSE '( - ' END || dissolvement || ')'
                ELSE l1 END AS l2
    FROM labeled
),
labeled3 AS (
    SELECT id, name, description, inception, dissolvement,
           CASE WHEN contains(l2, '(') AND NOT contains(l2, ')') THEN l2 || '-)' ELSE l2 END AS l3
    FROM labeled2
)
SELECT id, name, description, inception, dissolvement,
       l3 || CASE WHEN description IS NOT NULL THEN ': ' || description ELSE '' END AS label
FROM labeled3
"""


@register("org_index_docs", oracle=ORG_INDEX_SQL,
          covers=["J3", "J4", "J6", "A4", "F2", "F5", "F14", "P3", "O3", "O5"])
def q_org_index_docs(spark, sf_dir):
    """Flagship #3: the wikidata-organization index — UNION class branches,
    VALUES country semi-join, GROUP_CONCAT(DISTINCT) dates, F2 cleanup,
    de->en description fallback, F5 organization labels
    (sparql/wikidata-organization.sparql + prefect.yaml:98-129 config)."""
    triples = triples_from_tpch(spark, sf_dir)
    p31 = triples.filter(F.col("p") == "wdt:P31")
    branches = R.union_all(
        [
            p31.filter(F.col("o").isin("ex:orgtype1", "ex:orgtype2", "ex:orgtype3")).select(
                F.col("s").alias("org")
            ),
            p31.filter(F.col("o") == "ex:orgtype5").select(F.col("s").alias("org")),
        ]
    ).distinct()
    located = branches.join(
        R.values_join(
            triples.filter(F.col("p") == "ex:country"), "o", ORG_COUNTRIES
        ).select(F.col("s").alias("org")),
        on="org",
    )
    en = triples.filter((F.col("p") == "ex:label") & (F.col("o_lang") == "en")).select(
        F.col("s").alias("org"), F.col("o").alias("name")
    )
    de = triples.filter((F.col("p") == "ex:label") & (F.col("o_lang") == "de")).select(
        F.col("s").alias("org"), F.col("o").alias("_de")
    )
    incep = (
        triples.filter(F.col("p") == "wdt:P571")
        .groupBy(F.col("s").alias("org"))
        .agg(A.group_concat_distinct("o").alias("inception"))
    )
    diss = (
        triples.filter(F.col("p") == "wdt:P576")
        .groupBy(F.col("s").alias("org"))
        .agg(A.group_concat_distinct("o").alias("dissolvement"))
    )
    bindings = (
        located.join(en, on="org", how="left")
        .join(de, on="org", how="left")
        .withColumn("description", F.coalesce(F.col("_de"), F.col("name")))
        .drop("_de")
        .join(incep, on="org", how="left")
        .join(diss, on="org", how="left")
    )
    clean = bindings.select(
        scalar.wikidata_id_rebuild(F.col("org")).alias("id"),
        "name",
        "description",
        scalar.cocatenated_dates_postprocessing(F.col("inception")).alias("inception"),
        scalar.cocatenated_dates_postprocessing(F.col("dissolvement")).alias("dissolvement"),
    )
    return clean.withColumn(
        "label",
        scalar.label_creator_organization(
            F.col("name"), F.col("inception"), F.col("dissolvement"), F.col("description")
        ),
    )
