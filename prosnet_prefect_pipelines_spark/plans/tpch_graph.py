"""Deterministic RDF-triples view derived from the driver's TPC-H-ish tables.

The reference's relational semantics live in SPARQL over RDF graphs
(SURVEY §2.3); the driver's correctness gate runs on TPC-H-ish parquet.
Bridge: derive a canonical triples table (s, p, o, o_lang) from
nation/region/customer/part **identically** in Spark (this module) and in
DuckDB SQL (``TRIPLES_CTE`` — prefixed onto the oracle queries), so every
graph operator (BGP join, OPTIONAL, property path closure, label-service
join, sameAs components) is checked end-to-end against an oracle.

Content mirrors FIXTURES.md A1:
- entity/type/label triples with mixed `en`/`de` language tags
  (language fallback tests — reference lang filters at
  prosnet-prefect-pipelines/sparql/wikidata-person.sparql:20)
- a `wdt:P279` subclass tree ≥10 levels deep derived from part keys
  (property-path closure, sparql/wikidata-city.sparql:6)
- an `owl:sameAs` graph of chains with deterministic breaks
  (entity resolution, pfp-prefect-pipelines/sparql/
  create_provided_entities_graph_v2.sparql:10-27)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from prosnet_prefect_pipelines_spark.session import memo, pin

# DuckDB-side definition. MUST stay semantically identical to
# triples_from_tpch() below; both derive only from the parquet views.
TRIPLES_CTE = """
triples AS (
    SELECT 'urn:nation/' || CAST(n_nationkey AS VARCHAR) AS s,
           'rdf:type' AS p, 'ex:Nation' AS o, CAST(NULL AS VARCHAR) AS o_lang
    FROM nation
    UNION ALL
    SELECT 'urn:nation/' || CAST(n_nationkey AS VARCHAR), 'ex:label', n_name, 'en'
    FROM nation
    UNION ALL
    SELECT 'urn:nation/' || CAST(n_nationkey AS VARCHAR), 'ex:label', 'DE ' || n_name, 'de'
    FROM nation WHERE n_nationkey % 2 = 0
    UNION ALL
    SELECT 'urn:nation/' || CAST(n_nationkey AS VARCHAR), 'ex:inRegion',
           'urn:region/' || CAST(n_regionkey AS VARCHAR), NULL
    FROM nation
    UNION ALL
    SELECT 'urn:region/' || CAST(r_regionkey AS VARCHAR), 'rdf:type', 'ex:Region', NULL
    FROM region
    UNION ALL
    SELECT 'urn:region/' || CAST(r_regionkey AS VARCHAR), 'ex:label', r_name, 'en'
    FROM region
    UNION ALL
    SELECT 'urn:cust/' || CAST(c_custkey AS VARCHAR), 'rdf:type', 'ex:Person', NULL
    FROM customer
    UNION ALL
    SELECT 'urn:cust/' || CAST(c_custkey AS VARCHAR), 'ex:label', c_name, NULL
    FROM customer
    UNION ALL
    SELECT 'urn:cust/' || CAST(c_custkey AS VARCHAR), 'ex:nation',
           'urn:nation/' || CAST(c_nationkey AS VARCHAR), NULL
    FROM customer
    UNION ALL
    SELECT 'urn:cust/' || CAST(c_custkey AS VARCHAR), 'ex:segment', c_mktsegment, NULL
    FROM customer WHERE c_mktsegment IS NOT NULL
    UNION ALL
    -- subclass tree: every part key points at its integer half (root = 1)
    SELECT 'urn:class/' || CAST(p_partkey AS VARCHAR), 'wdt:P279',
           'urn:class/' || CAST(CAST(FLOOR(p_partkey / 2) AS BIGINT) AS VARCHAR), NULL
    FROM part WHERE p_partkey >= 2
    UNION ALL
    -- sameAs chains: consecutive customers linked, broken at multiples of 10
    -- and where c_acctbal < 0 (deterministic irregular cluster shapes)
    SELECT 'urn:cust/' || CAST(c_custkey AS VARCHAR), 'owl:sameAs',
           'urn:cust/' || CAST(c_custkey - 1 AS VARCHAR), NULL
    FROM customer WHERE c_custkey % 10 <> 1 AND c_acctbal >= 0
    UNION ALL
    -- pre-existing provided-entity proxies for a sparse subset of customers
    SELECT 'urn:proxy/' || CAST(c_custkey AS VARCHAR), 'pfp:proxy_for',
           'urn:cust/' || CAST(c_custkey AS VARCHAR), NULL
    FROM customer WHERE c_custkey % 50 = 0
    UNION ALL
    -- city-index shape: customers typed into the subclass tree (wdt:P31),
    -- with 1-2 GeoNames-style feature codes and a WKT coordinate
    SELECT 'urn:cust/' || CAST(c_custkey AS VARCHAR), 'wdt:P31',
           'urn:class/' || CAST(1 + c_custkey % 1999 AS VARCHAR), NULL
    FROM customer
    UNION ALL
    SELECT 'urn:cust/' || CAST(c_custkey AS VARCHAR), 'wdt:P2452',
           'P.' || (['PPLC','PPLCH','PPLA','PPLA2','PPLA3','PPLA4','PPL','PPLF','PPLG',
                     'PPLH','PPLL','PPLQ','PPLR','PPLS','PPLW','PPLX','STLMT',
                     'ADM1','ADM1H','ADM2','ADM2H','ADM3','ADM3H','ADM4','ADM4H',
                     'ADM5','ADM5H','ADMD','ADMDH'])[(c_custkey % 29) + 1], NULL
    FROM customer WHERE c_custkey % 3 <> 0
    UNION ALL
    SELECT 'urn:cust/' || CAST(c_custkey AS VARCHAR), 'wdt:P2452', 'X.UNK', NULL
    FROM customer WHERE c_custkey % 4 = 0
    UNION ALL
    SELECT 'urn:cust/' || CAST(c_custkey AS VARCHAR), 'wdt:P625',
           'Point(' || CAST(CAST((c_custkey % 360) - 180 + 0.5 AS DOUBLE) AS VARCHAR)
           || ' ' || CAST(CAST((c_custkey % 180) - 90 + 0.25 AS DOUBLE) AS VARCHAR) || ')', NULL
    FROM customer WHERE c_custkey % 6 <> 0
    UNION ALL
    -- organization-index shape over suppliers: org typing, de/en labels,
    -- country link, inception/dissolvement date literals
    SELECT 'urn:sup/' || CAST(s_suppkey AS VARCHAR), 'rdf:type', 'ex:Organization', NULL
    FROM supplier
    UNION ALL
    SELECT 'urn:sup/' || CAST(s_suppkey AS VARCHAR), 'wdt:P31',
           'ex:orgtype' || CAST(s_suppkey % 9 AS VARCHAR), NULL
    FROM supplier
    UNION ALL
    SELECT 'urn:sup/' || CAST(s_suppkey AS VARCHAR), 'ex:label', s_name, 'en'
    FROM supplier
    UNION ALL
    SELECT 'urn:sup/' || CAST(s_suppkey AS VARCHAR), 'ex:label', 'DE ' || s_name, 'de'
    FROM supplier WHERE s_suppkey % 3 = 0
    UNION ALL
    SELECT 'urn:sup/' || CAST(s_suppkey AS VARCHAR), 'ex:country',
           'urn:nation/' || CAST(s_nationkey AS VARCHAR), NULL
    FROM supplier
    UNION ALL
    SELECT 'urn:sup/' || CAST(s_suppkey AS VARCHAR), 'wdt:P571',
           CAST(1800 + s_suppkey % 150 AS VARCHAR) || '-01-01T00:00:00Z', NULL
    FROM supplier WHERE s_suppkey % 2 = 0
    UNION ALL
    SELECT 'urn:sup/' || CAST(s_suppkey AS VARCHAR), 'wdt:P571',
           CAST(1810 + s_suppkey % 150 AS VARCHAR) || '-06-15T00:00:00Z', NULL
    FROM supplier WHERE s_suppkey % 10 = 0
    UNION ALL
    SELECT 'urn:sup/' || CAST(s_suppkey AS VARCHAR), 'wdt:P576',
           CAST(1900 + s_suppkey % 120 AS VARCHAR) || '-12-31T00:00:00Z', NULL
    FROM supplier WHERE s_suppkey % 4 = 0
)
"""


def triples_from_tpch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build (or reuse) the triples DataFrame; TRIPLES_CTE is the oracle twin.

    One pinned materialization per (session, sf): a dozen catalog
    queries read it, and without the memo each re-scans the 5 source
    tables -- the shared-dimension-view pattern."""
    return memo(
        spark, ("tpch_graph.triples", sf_dir),
        lambda: pin(_build_triples(spark, sf_dir)),
    )


def _build_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE scan per source table: each row carries an array of
    conditionally-present (s, p, o, o_lang) template structs which is
    compacted and exploded (the render-module idiom) — at scale this is
    one pass over each fact table instead of one scan per union branch
    (the old shape read customer 9x and supplier 8x)."""
    from prosnet_prefect_pipelines_spark.functions.scalar import FEATURE_CODES_RANK

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")

    def tb(s, p, o, lang=None, cond=None):
        """One template branch: a struct, or null when cond is false."""
        st = F.struct(
            s.alias("s"),
            F.lit(p).alias("p"),
            o.alias("o"),
            F.lit(lang).cast("string").alias("o_lang"),
        )
        return st if cond is None else F.when(cond, st)

    def explode_templates(df: DataFrame, branches: list) -> DataFrame:
        return df.select(
            F.explode(F.array_compact(F.array(*branches))).alias("t")
        ).select("t.s", "t.p", "t.o", "t.o_lang")

    nat_s = F.concat(F.lit("urn:nation/"), F.col("n_nationkey").cast("string"))
    reg_s = F.concat(F.lit("urn:region/"), F.col("r_regionkey").cast("string"))
    cust_s = F.concat(F.lit("urn:cust/"), F.col("c_custkey").cast("string"))
    ck = F.col("c_custkey")
    rank_arr = F.array(*[F.lit(x) for x in FEATURE_CODES_RANK])
    sup_s = F.concat(F.lit("urn:sup/"), F.col("s_suppkey").cast("string"))
    sk = F.col("s_suppkey")

    nation_t = explode_templates(nation, [
        tb(nat_s, "rdf:type", F.lit("ex:Nation")),
        tb(nat_s, "ex:label", F.col("n_name"), "en"),
        tb(nat_s, "ex:label", F.concat(F.lit("DE "), F.col("n_name")), "de",
           cond=F.col("n_nationkey") % 2 == 0),
        tb(nat_s, "ex:inRegion",
           F.concat(F.lit("urn:region/"), F.col("n_regionkey").cast("string"))),
    ])
    region_t = explode_templates(region, [
        tb(reg_s, "rdf:type", F.lit("ex:Region")),
        tb(reg_s, "ex:label", F.col("r_name"), "en"),
    ])
    customer_t = explode_templates(customer, [
        tb(cust_s, "rdf:type", F.lit("ex:Person")),
        tb(cust_s, "ex:label", F.col("c_name")),
        tb(cust_s, "ex:nation",
           F.concat(F.lit("urn:nation/"), F.col("c_nationkey").cast("string"))),
        tb(cust_s, "ex:segment", F.col("c_mktsegment"),
           cond=F.col("c_mktsegment").isNotNull()),
        tb(cust_s, "owl:sameAs",
           F.concat(F.lit("urn:cust/"), (ck - 1).cast("string")),
           cond=(ck % 10 != 1) & (F.col("c_acctbal") >= 0)),
        tb(F.concat(F.lit("urn:proxy/"), ck.cast("string")), "pfp:proxy_for",
           cust_s, cond=ck % 50 == 0),
        # city-index shape (wdt:P31 typing, feature codes, WKT coords)
        tb(cust_s, "wdt:P31",
           F.concat(F.lit("urn:class/"), (F.lit(1) + ck % 1999).cast("string"))),
        tb(cust_s, "wdt:P2452",
           F.concat(F.lit("P."), F.element_at(rank_arr, (ck % 29 + 1).cast("int"))),
           cond=ck % 3 != 0),
        tb(cust_s, "wdt:P2452", F.lit("X.UNK"), cond=ck % 4 == 0),
        tb(cust_s, "wdt:P625",
           F.concat(F.lit("Point("), ((ck % 360) - 180 + 0.5).cast("double").cast("string"),
                    F.lit(" "), ((ck % 180) - 90 + 0.25).cast("double").cast("string"),
                    F.lit(")")),
           cond=ck % 6 != 0),
    ])
    part_t = part.filter(F.col("p_partkey") >= 2).select(
        F.concat(F.lit("urn:class/"), F.col("p_partkey").cast("string")).alias("s"),
        F.lit("wdt:P279").alias("p"),
        F.concat(
            F.lit("urn:class/"), F.floor(F.col("p_partkey") / 2).cast("long").cast("string")
        ).alias("o"),
        F.lit(None).cast("string").alias("o_lang"),
    )
    # organization-index shape over suppliers
    supplier_t = explode_templates(supplier, [
        tb(sup_s, "rdf:type", F.lit("ex:Organization")),
        tb(sup_s, "wdt:P31", F.concat(F.lit("ex:orgtype"), (sk % 9).cast("string"))),
        tb(sup_s, "ex:label", F.col("s_name"), "en"),
        tb(sup_s, "ex:label", F.concat(F.lit("DE "), F.col("s_name")), "de",
           cond=sk % 3 == 0),
        tb(sup_s, "ex:country",
           F.concat(F.lit("urn:nation/"), F.col("s_nationkey").cast("string"))),
        tb(sup_s, "wdt:P571",
           F.concat((F.lit(1800) + sk % 150).cast("string"), F.lit("-01-01T00:00:00Z")),
           cond=sk % 2 == 0),
        tb(sup_s, "wdt:P571",
           F.concat((F.lit(1810) + sk % 150).cast("string"), F.lit("-06-15T00:00:00Z")),
           cond=sk % 10 == 0),
        tb(sup_s, "wdt:P576",
           F.concat((F.lit(1900) + sk % 120).cast("string"), F.lit("-12-31T00:00:00Z")),
           cond=sk % 4 == 0),
    ])
    out = nation_t
    for p in (region_t, customer_t, part_t, supplier_t):
        out = out.unionByName(p)
    return out
