"""Deterministic triple-ization of the TPC-H-ish testdata tables.

Turns orders/lineitem/customer/nation into a quad DataFrame with blank
line-item nodes, so the extraction engine can be exercised (and DuckDB-
oracled) on relational testdata: order entities have a CBD that spans
blank nodes, customer/nation reachable through nodeLink-style hops.

The same construction exists as a SQL CTE (ORACLE_TRIPLES_CTE) used by
__spark_entry__.oracle_sql().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from extract_cbd_shape_spark.model import BLANK, IRI, LITERAL, XSD_INTEGER, XSD_STRING


def tpch_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    par = spark.sparkContext.defaultParallelism
    # small single-row-group parquet reads as 1 partition; fan out so
    # triple synthesis parallelizes (collapses into the source shuffle
    # on a pre-partitioned production table)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(par)
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition(par)
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")

    o = F.concat(F.lit("o:"), F.col("o_orderkey"))
    c_of_o = F.concat(F.lit("c:"), F.col("o_custkey"))
    line = F.concat(F.lit("l:"), F.col("l_orderkey"), F.lit(":"), F.col("l_linenumber"))
    o_of_l = F.concat(F.lit("o:"), F.col("l_orderkey"))
    p_of_l = F.concat(F.lit("p:"), F.col("l_partkey"))
    c = F.concat(F.lit("c:"), F.col("c_custkey"))
    n_of_c = F.concat(F.lit("n:"), F.col("c_nationkey"))
    n = F.concat(F.lit("n:"), F.col("n_nationkey"))

    def _struct(sub, sk, pred, ov, ok, dt=None):
        return F.struct(
            sub.alias("subject"),
            F.lit(sk).cast("tinyint").alias("subject_kind"),
            F.lit(pred).alias("predicate"),
            ov.alias("object_value"),
            F.lit(ok).cast("tinyint").alias("object_kind"),
            F.lit(None).cast("string").alias("object_lang"),
            F.lit(dt).cast("string").alias("object_datatype"),
            F.lit(None).cast("string").alias("graph"),
            F.lit(None).cast("tinyint").alias("graph_kind"),
        )

    # One scan per source table; quads per row via inline-explode.
    parts = [
        orders.select(F.inline(F.array(
            _struct(o, IRI, "kg:hasCustomer", c_of_o, IRI),
            _struct(o, IRI, "kg:orderDate",
                    F.col("o_orderdate").cast("string"), LITERAL, XSD_STRING),
        ))),
        lineitem.select(F.inline(F.array(
            _struct(o_of_l, IRI, "kg:hasLine", line, BLANK),
            _struct(line, BLANK, "kg:hasPart", p_of_l, IRI),
            _struct(line, BLANK, "kg:quantity",
                    F.col("l_quantity").cast("long").cast("string"),
                    LITERAL, XSD_INTEGER),
        ))),
        customer.select(F.inline(F.array(
            _struct(c, IRI, "kg:inNation", n_of_c, IRI),
            _struct(c, IRI, "kg:name", F.col("c_name"), LITERAL, XSD_STRING),
        ))),
        nation.select(F.inline(F.array(
            _struct(n, IRI, "kg:name", F.col("n_name"), LITERAL, XSD_STRING),
        ))),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# KBO-style benchmark corpus (mirrors the reference's perf fixtures:
# perf/resources/kbo.ttl members — ~13 quads each: 2 rdf:type values,
# isVersionOf, companyStatus/Type, legalName, a blank registeredAddress
# node with 2 quads, 3 kbo:activity values, establishment, status —
# and perf/resources/shacl-kbo.ttl LegalEntityShape/AddressShape).
# Generated deterministically from the orders table at any sf.
# --------------------------------------------------------------------------

KBO_SHAPE_TTL = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/bench/> .
ex:LegalEntityShape a sh:NodeShape ;
  sh:property [ sh:path <rdf:type> ] ;
  sh:property [ sh:path <kbo:isVersionOf> ; sh:minCount 1 ] ;
  sh:property [ sh:path <kbo:companyStatus> ] ;
  sh:property [ sh:path <kbo:companyType> ] ;
  sh:property [ sh:path <kbo:legalName> ; sh:minCount 1 ] ;
  sh:property [ sh:path <kbo:registeredAddress> ; sh:minCount 1 ;
                sh:node ex:AddressShape ] ;
  sh:property [ sh:path <kbo:activity> ; sh:minCount 1 ] ;
  sh:property [ sh:path <kbo:establishment> ; sh:minCount 1 ] ;
  sh:property [ sh:path <kbo:status> ; sh:minCount 1 ] .
ex:AddressShape a sh:NodeShape ;
  sh:property [ sh:path <kbo:fullAddress> ; sh:minCount 1 ] ;
  sh:property [ sh:path <kbo:postCode> ; sh:minCount 1 ] .
"""

KBO_SHAPE_IRI = "http://example.org/bench/LegalEntityShape"

# Extended variant mirroring the reference's escalated perf shapes
# (perf/resources/shacl-kbo.ttl LegalEntityShapeExtended /
# CBDAndShaclExtended regime): the base shape plus a 2-hop sequence
# path (registeredAddress/fullAddress — hop 2 lands on the blank
# address the CBD closure walks, so the quad OUTPUT equals the base
# shape and the same oracle applies) and a forward alternative. This is
# the corpus the vectorized kernel's chained-gather path is benched on.
KBO_SHAPE_EXT_TTL = KBO_SHAPE_TTL.replace(
    "ex:AddressShape a sh:NodeShape ;",
    """ex:LegalEntityShapeExt a sh:NodeShape ;
  sh:property [ sh:path <rdf:type> ] ;
  sh:property [ sh:path <kbo:isVersionOf> ; sh:minCount 1 ] ;
  sh:property [ sh:path <kbo:legalName> ; sh:minCount 1 ] ;
  sh:property [ sh:path <kbo:registeredAddress> ; sh:minCount 1 ;
                sh:node ex:AddressShape ] ;
  sh:property [ sh:path (<kbo:registeredAddress> <kbo:fullAddress>) ;
                sh:minCount 1 ] ;
  sh:property [ sh:path [ sh:alternativePath
                          (<kbo:companyStatus> <kbo:companyType>) ] ] ;
  sh:property [ sh:path <kbo:activity> ; sh:minCount 1 ] ;
  sh:property [ sh:path <kbo:establishment> ; sh:minCount 1 ] ;
  sh:property [ sh:path <kbo:status> ; sh:minCount 1 ] .
ex:AddressShape a sh:NodeShape ;""",
)

KBO_SHAPE_EXT_IRI = "http://example.org/bench/LegalEntityShapeExt"

# Inverse variant (reference perf/resources/shacl-kbo.ttl:163-166
# CBDAndShaclExtended regime): the base shape plus an inverse match
# path — witnesses are the member's INCOMING kbo:memberOf edges, which
# CBD never reaches. The global engine serves these hops from its
# object-keyed store copy (one clustering, reused every wave).
KBO_SHAPE_INV_TTL = KBO_SHAPE_TTL.replace(
    "ex:LegalEntityShape a sh:NodeShape ;",
    """ex:LegalEntityShape a sh:NodeShape ;
  sh:property [ sh:path [ sh:inversePath <kbo:memberOf> ] ] ;""",
)


def with_store_key(triples: DataFrame, members: DataFrame):
    """KBO corpus store key — the numeric segment of the ``m:NNN`` /
    ``ex:NNN`` IRIs, i.e. one store (page) per member. The ONE
    definition shared by the flagship queries, bench ingest timing and
    the scaling jobs, so they always bucket the corpus identically."""
    return (
        triples.withColumn("store_key", F.split(F.col("subject"), ":")[1]),
        members.withColumn("store_key", F.split(F.col("entity"), ":")[1]),
    )


def kbo_members(spark: SparkSession, sf_dir: str,
                named_graphs: bool = False, replicate: int = 1,
                inverse_edges: int = 0, incomplete_mod: int = 0):
    """(triples_df, members_df): one ~13-quad member per orders row.
    ``replicate`` unions K disjoint copies (orderkey offset by 10M per
    copy) — used by the scaling bench to size the corpus.
    ``inverse_edges`` adds that many incoming ``kbo:memberOf`` quads
    per member (subjects ``p:<k>:<j>``) — reachable only through an
    inverse path, never through CBD.
    ``incomplete_mod``: when > 0, members whose orderkey is divisible
    by it LOSE their ``kbo:status`` quad — a required path of the KBO
    shape — giving the corpus a deterministic non-conforming slice for
    validation-report tests/oracles."""
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    if replicate > 1:
        base = orders
        for i in range(1, replicate):
            orders = orders.unionByName(
                base.select(
                    (F.col("o_orderkey") + i * 10_000_000).alias("o_orderkey")
                )
            )
    m = F.concat(F.lit("m:"), F.col("o_orderkey"))
    addr = F.concat(F.lit("a:"), F.col("o_orderkey"))
    if named_graphs:
        g_val, g_kind = m, IRI
    else:
        g_val, g_kind = F.lit(None).cast("string"), None

    def q(sub, sk, pred, ov, ok, dt=None):
        return [
            sub.alias("subject"),
            F.lit(sk).cast("tinyint").alias("subject_kind"),
            F.lit(pred).alias("predicate") if isinstance(pred, str)
            else pred.alias("predicate"),
            ov.alias("object_value"),
            F.lit(ok).cast("tinyint").alias("object_kind"),
            F.lit(None).cast("string").alias("object_lang"),
            F.lit(dt).cast("string").alias("object_datatype"),
            g_val.cast("string").alias("graph"),
            F.lit(g_kind).cast("tinyint").alias("graph_kind"),
        ]

    lit_name = F.concat(F.lit("Company "), F.col("o_orderkey"))
    # ONE scan of orders, 14 quads per row via inline-explode — no
    # 14-branch union, no per-branch exchange. At corpus scale this is
    # the only shape that survives: a single pass over the source with
    # a generator, partitioned like the scan.
    quad_defs = [
        (m, IRI, "rdf:type", F.lit("kbo:legalEntity"), IRI, None),
        (m, IRI, "rdf:type", F.lit("kbo:Enterprise"), IRI, None),
        (m, IRI, "kbo:isVersionOf",
         F.concat(F.lit("v:"), F.col("o_orderkey")), IRI, None),
        (m, IRI, "kbo:companyStatus",
         F.lit("kbo:JuridicalSituation_000"), IRI, None),
        (m, IRI, "kbo:companyType", F.lit("kbo:JuridicalForm_014"), IRI, None),
        (m, IRI, "kbo:legalName", lit_name, LITERAL, XSD_STRING),
        (m, IRI, "kbo:registeredAddress", addr, BLANK, None),
        (m, IRI, "kbo:activity",
         F.concat(F.lit("act:"), F.col("o_orderkey") % 50), IRI, None),
        (m, IRI, "kbo:activity",
         F.concat(F.lit("act:"), (F.col("o_orderkey") + 7) % 50), IRI, None),
        (m, IRI, "kbo:activity",
         F.concat(F.lit("act:"), (F.col("o_orderkey") + 13) % 50), IRI, None),
        (m, IRI, "kbo:establishment",
         F.concat(F.lit("e:"), F.col("o_orderkey")), IRI, None),
        (m, IRI, "kbo:status", F.lit("kbo:Status_AC"), IRI, None),
        (addr, BLANK, "kbo:fullAddress",
         F.concat(F.lit("Street "), F.col("o_orderkey")), LITERAL, XSD_STRING),
        (addr, BLANK, "kbo:postCode",
         (F.col("o_orderkey") % 9999).cast("string"), LITERAL, XSD_STRING),
    ]
    for j in range(inverse_edges):
        quad_defs.append((
            F.concat(F.lit("p:"), F.col("o_orderkey"), F.lit(f":{j}")),
            IRI, "kbo:memberOf", m, IRI, None,
        ))
    structs = [
        F.struct(
            sub.alias("subject"),
            F.lit(sk).cast("tinyint").alias("subject_kind"),
            F.lit(pred).alias("predicate"),
            ov.alias("object_value"),
            F.lit(ok).cast("tinyint").alias("object_kind"),
            F.lit(None).cast("string").alias("object_lang"),
            F.lit(dt).cast("string").alias("object_datatype"),
            g_val.cast("string").alias("graph"),
            F.lit(g_kind).cast("tinyint").alias("graph_kind"),
        )
        for (sub, sk, pred, ov, ok, dt) in quad_defs
    ]
    triples = orders.select(F.col("o_orderkey"), F.inline(F.array(*structs)))
    if incomplete_mod:
        triples = triples.filter(
            ~((F.col("predicate") == "kbo:status")
              & (F.col("o_orderkey") % incomplete_mod == 0))
        )
    triples = triples.drop("o_orderkey")
    members = orders.select(
        m.alias("entity"),
        F.lit(IRI).cast("tinyint").alias("entity_kind"),
        F.col("o_orderkey").cast("long").alias("input_idx"),
    )
    return triples, members


# DuckDB mirror — one CTE named `triples` with the same rows
# (columns: subject, predicate, object_value, object_kind).
ORACLE_TRIPLES_CTE = """
triples AS (
    SELECT 'o:'||o_orderkey AS subject, 'kg:hasCustomer' AS predicate,
           'c:'||o_custkey AS object_value, 0 AS object_kind FROM orders
    UNION ALL
    SELECT 'o:'||o_orderkey, 'kg:orderDate', o_orderdate::VARCHAR, 2 FROM orders
    UNION ALL
    SELECT 'o:'||l_orderkey, 'kg:hasLine', 'l:'||l_orderkey||':'||l_linenumber, 1
    FROM lineitem
    UNION ALL
    SELECT 'l:'||l_orderkey||':'||l_linenumber, 'kg:hasPart', 'p:'||l_partkey, 0
    FROM lineitem
    UNION ALL
    SELECT 'l:'||l_orderkey||':'||l_linenumber, 'kg:quantity',
           (l_quantity::BIGINT)::VARCHAR, 2 FROM lineitem
    UNION ALL
    SELECT 'c:'||c_custkey, 'kg:inNation', 'n:'||c_nationkey, 0 FROM customer
    UNION ALL
    SELECT 'c:'||c_custkey, 'kg:name', c_name, 2 FROM customer
    UNION ALL
    SELECT 'n:'||n_nationkey, 'kg:name', n_name, 2 FROM nation
)
"""
