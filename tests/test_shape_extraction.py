"""Shape-guided extraction golden tests mirroring the reference's
tests/01 (shacl-shacl), tests/04 (logical edge cases incl. emulated
out-of-band dereference), tests/06 (named graphs + bulk), and tests/02
(marine regions deref chain)."""

import pytest

from extract_cbd_shape_spark.model import IRI, Term
from extract_cbd_shape_spark.operators import BulkCBDShapeExtractor, Member
from extract_cbd_shape_spark.rdf import parse_trig
from extract_cbd_shape_spark.shapes import ShapesGraph
from extract_cbd_shape_spark.sources import trig_to_df

from conftest import load_fixture

EX = "http://example.org/"
SHSH = "http://www.w3.org/ns/shacl-shacl#"

NAME_TTL = """
@prefix ex: <http://example.org/> .
@prefix foaf: <http://xmlns.com/foaf/0.1/>.

<./name.ttl> ex:name "Pieter" .

<https://test.com/name.ttl#Person1> ex:name "Peterson" .
"""


@pytest.fixture(scope="module")
def env01(spark):
    shapes = ShapesGraph.from_quads(
        parse_trig(load_fixture("01 - fetching a shacl shape/shacl-shacl.ttl"))
    )
    data = trig_to_df(
        spark, load_fixture("01 - fetching a shacl shape/shacl-catalog.ttl")
    ).cache()
    return BulkCBDShapeExtractor(spark, shapes_graph=shapes), data


def test_shape_catalog_person_11(spark, env01):
    ex, data = env01
    results, _ = ex.extract(
        data, [Term(IRI, EX + "PersonShape")], shape=Term(IRI, SHSH + "NodeShapeShape")
    )
    assert results.count() == 11


def test_shape_catalog_repeatable(spark, env01):
    ex, data = env01
    for _ in range(2):
        results, _ = ex.extract(
            data,
            [Term(IRI, EX + "PersonShape")],
            shape=Term(IRI, SHSH + "NodeShapeShape"),
        )
        assert results.count() == 11


def test_shape_catalog_organization_16(spark, env01):
    ex, data = env01
    results, _ = ex.extract(
        data,
        [Term(IRI, EX + "OrganizationShape")],
        shape=Term(IRI, SHSH + "NodeShapeShape"),
    )
    assert results.count() == 16


def test_shacl_shacl_self_273(spark):
    shapes_ttl = load_fixture("01 - fetching a shacl shape/shacl-shacl.ttl")
    shapes = ShapesGraph.from_quads(parse_trig(shapes_ttl))
    data = trig_to_df(spark, shapes_ttl)
    ex = BulkCBDShapeExtractor(spark, shapes_graph=shapes)
    results, _ = ex.extract(
        data, [Term(IRI, SHSH + "ShapeShape")], shape=Term(IRI, SHSH + "ShapeShape")
    )
    assert results.count() == 273


@pytest.fixture(scope="module")
def env04(spark):
    shapes = ShapesGraph.from_quads(
        parse_trig(load_fixture("04 - logical edge cases/shape.ttl"))
    )
    data = trig_to_df(spark, load_fixture("04 - logical edge cases/data.ttl")).cache()
    resolver_quads = parse_trig(NAME_TTL, base="https://test.com/name.ttl")
    resolver = {
        "https://test.com/name.ttl": resolver_quads,
        "https://test.com/name.ttl#Person1": resolver_quads,
    }
    return (
        BulkCBDShapeExtractor(spark, shapes_graph=shapes, resolver=resolver),
        data,
    )


@pytest.mark.parametrize(
    "entity,shape,expected",
    [
        ("Person1", "Shape", 7),
        ("Person2", "PersonShape", 7),
        ("Person3", "KnowsPieterShape", 4),
        ("Person4", "XoneWithNodeShape", 3),
        ("Person5", "TriggersHTTPShape", 3),
        ("Person6", "CircularXoneShape", 7),
    ],
)
def test_logical_edge_cases(env04, entity, shape, expected):
    ex, data = env04
    results, _ = ex.extract(data, [Term(IRI, EX + entity)], shape=Term(IRI, EX + shape))
    assert results.count() == expected


def test_deref_flag_without_resolver(spark, env04):
    _, data = env04
    shapes = ShapesGraph.from_quads(
        parse_trig(load_fixture("04 - logical edge cases/shape.ttl"))
    )
    ex = BulkCBDShapeExtractor(spark, shapes_graph=shapes)  # no resolver
    results, flags = ex.extract(
        data, [Term(IRI, EX + "Person3")], shape=Term(IRI, EX + "KnowsPieterShape")
    )
    assert results.count() == 3  # CBD of Person3 only
    flagged = {f.node for f in flags.collect()}
    assert "https://test.com/name.ttl#Person1" in flagged


def test_chained_nodelink_paths(spark):
    shape_ttl = """
@prefix sh:  <http://www.w3.org/ns/shacl#> .
@prefix ex:  <http://example.org/> .

ex:innerShape
	a sh:NodeShape ;
	sh:property [
		sh:path (ex:first ex:second);
	] .

ex:outerShape
	a sh:NodeShape ;
	sh:property [
		sh:path ex:inner;
    sh:node ex:innerShape;
	] .
"""
    data_ttl = """
@prefix ex:  <http://example.org/> .

ex:false ex:second "Don't find me".

ex:true ex:first ex:trueInner.
ex:trueInner ex:second "Find me".

ex:subject ex:first ex:false;
  ex:inner ex:true.
"""
    shapes = ShapesGraph.from_quads(parse_trig(shape_ttl))
    data = trig_to_df(spark, data_ttl)
    ex = BulkCBDShapeExtractor(spark, shapes_graph=shapes)
    results, _ = ex.extract(
        data, [Term(IRI, EX + "subject")], shape=Term(IRI, EX + "outerShape")
    )
    objs = {r.object_value for r in results.collect()}
    assert "Find me" in objs
    assert "Don't find me" not in objs


def test_nodelink_revisits_blank_extracted_node(spark):
    """A nodeLink whose target was already CBD-extracted as a blank
    child: the reference re-runs the star there (only blank recursion is
    guarded, lib/CBDShapeExtractor.ts:389-391,501-505) so the quad set
    and the topology words at the new position must both be intact. The
    engine memo-skips the re-extraction but records the position words
    via a dedicated one-hop join (ADVICE r1 #4)."""
    shape_ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
ex:S1 a sh:NodeShape ;
  sh:property [ sh:path ex:p ] ;
  sh:property [ sh:path ex:link ; sh:node ex:S2 ] .
ex:S2 a sh:NodeShape ;
  sh:property [ sh:path ex:q ; sh:minCount 1 ] .
"""
    data_ttl = """
@prefix ex: <http://example.org/> .
ex:E ex:p _:b ; ex:link _:b .
_:b ex:q ex:V .
"""
    shapes = ShapesGraph.from_quads(parse_trig(shape_ttl))
    data = trig_to_df(spark, data_ttl)
    ex = BulkCBDShapeExtractor(spark, shapes_graph=shapes)
    results, flags = ex.extract(
        data, [Term(IRI, EX + "E")], shape=Term(IRI, EX + "S1")
    )
    got = {
        (r.subject, r.predicate, r.object_value) for r in results.collect()
    }
    preds = {p for _, p, _ in got}
    assert preds == {EX + "p", EX + "link", EX + "q"}
    assert results.count() == 3  # unique quads, star not double-emitted
    assert flags.count() == 0  # required ex:q satisfied at the revisit


# --- tests/06: shapes and named graphs ---


def test_bulk_graph_isolation(spark):
    shapes = ShapesGraph.from_quads(
        parse_trig(load_fixture("06 - shapes and named graphs/shape.ttl"))
    )
    data = trig_to_df(spark, load_fixture("06 - shapes and named graphs/data.ttl"))
    ex = BulkCBDShapeExtractor(spark, shapes_graph=shapes)
    results, _ = ex.extract(
        data,
        [Term(IRI, EX + "M1v1")],
        shape=Term(IRI, EX + "Shape"),
        graphs_to_ignore=[Term(IRI, EX + "M1v2")],
    )
    assert results.count() == 2


def test_nested_blank_shape_and_bulk(spark):
    shapes = ShapesGraph.from_quads(
        parse_trig(load_fixture("06 - shapes and named graphs/shape-example.ttl"))
    )
    data = trig_to_df(
        spark, load_fixture("06 - shapes and named graphs/data-example.ttl")
    )
    ex = BulkCBDShapeExtractor(spark, shapes_graph=shapes)
    results, _ = ex.extract(
        data, [Term(IRI, EX + "line")], shape=Term(IRI, EX + "shape")
    )
    assert results.count() == 6

    results2, _ = ex.extract(
        data,
        [Term(IRI, EX + "line"), Term(IRI, EX + "important_point")],
        shape=Term(IRI, EX + "shape"),
        bulk=True,
    )
    counts = {
        r.entity.split("/")[-1]: r["count"]
        for r in results2.groupBy("entity").count().collect()
    }
    assert counts == {"line": 6, "important_point": 2}


def test_bulk_named_graph_member_no_deref(spark):
    # extraction-example.test.ts:80-106 — named-graph member, 1 quad,
    # no dereference attempted (no flag raised).
    ttl = """
@prefix ex: <http://example.org/>.
ex:named-graph-member {
  ex:named-graph-member ex:name "member" .
}
"""
    data = trig_to_df(spark, ttl)
    ex = BulkCBDShapeExtractor(spark)
    results, flags = ex.extract(
        data, [Term(IRI, EX + "named-graph-member")], bulk=True
    )
    rows = results.collect()
    assert len(rows) == 1
    assert rows[0].graph == EX + "named-graph-member"
    assert flags.count() == 0


# --- tests/02: marine regions out-of-band chain ---


def test_mrg_out_of_band_chain(spark):
    member_ttl = load_fixture("02 - marine regions LDES/data.ttl")
    shapes = ShapesGraph.from_quads(
        parse_trig(load_fixture("02 - marine regions LDES/shacl.ttl"))
    )
    mrg_url = "http://marineregions.org/mrgid/24983"
    geo_url = (
        "http://marineregions.org/mrgid/24983/geometries?source=110&attributeValue=2004"
    )
    mrg_body = """
@prefix mr: <http://marineregions.org/ns/ontology#> .
@prefix mrt: <http://marineregions.org/ns/placetypes#> .
@prefix dc: <http://purl.org/dc/terms/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix skos: <http://www.w3.org/2004/02/skos/core#> .
@prefix dcat: <http://www.w3.org/ns/dcat#> .
@prefix gsp: <http://www.opengis.net/ont/geosparql#> .
@prefix prov: <http://www.w3.org/ns/prov#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .

<http://marineregions.org/mrgid/24983>
  a mr:MRGeoObject, mrt:Escarpment ;
  mr:hasGeometry <http://marineregions.org/mrgid/24983/geometries?source=110&attributeValue=2004> ;
  mr:isPartOf <http://marineregions.org/mrgid/4300>, <http://marineregions.org/mrgid/8487> ;
  dc:modified "2023-07-24T14:14:57Z"^^xsd:dateTime ;
  skos:altLabel "Minami Amami Escarpment"@en, "Minami Anami Escarpment"@en ;
  skos:prefLabel "Minami-Amami Escarpment"@en ;
  dcat:bbox "bbox-wkt"^^gsp:wktLiteral ;
  dcat:centroid "centroid-wkt"^^gsp:wktLiteral ;
  prov:hadPrimarySource <http://www.ngdc.noaa.gov/gazetteer/> .

<http://marineregions.org/mrgid/4300>
  a mr:MRGeoObject, mrt:IHOSeaArea ;
  skos:prefLabel "Philippine Sea"@en .

<http://marineregions.org/mrgid/8487>
  a mr:MRGeoObject, mrt:EEZ ;
  skos:prefLabel "Japanese Exclusive Economic Zone"@en .

<http://www.ngdc.noaa.gov/gazetteer/> rdfs:label "IHO-IOC GEBCO Gazetteer of Undersea Feature Names"^^xsd:string .
"""
    geo_body = """
@prefix mr: <http://marineregions.org/ns/ontology#> .
@prefix gsp: <http://www.opengis.net/ont/geosparql#> .
@prefix prov: <http://www.w3.org/ns/prov#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

<http://marineregions.org/mrgid/24983> mr:hasGeometry <http://marineregions.org/mrgid/24983/geometries?source=110&attributeValue=2004> .
<http://marineregions.org/mrgid/24983/geometries?source=110&attributeValue=2004>
  gsp:asWKT "linestring-wkt"^^gsp:wktLiteral ;
  prov:hadPrimarySource <http://www.ngdc.noaa.gov/gazetteer/> .

<http://www.ngdc.noaa.gov/gazetteer/> rdfs:label "IHO-IOC GEBCO Gazetteer of Undersea Feature Names"^^xsd:string .
"""
    resolver = {
        mrg_url: parse_trig(mrg_body, base=mrg_url),
        geo_url: parse_trig(geo_body, base=geo_url),
    }
    data = trig_to_df(spark, member_ttl)
    ex = BulkCBDShapeExtractor(spark, shapes_graph=shapes, resolver=resolver)
    results, flags = ex.extract(
        data,
        [Term(IRI, "http://marineregions.org/mrgid/24983?t=1690208097")],
        shape=Term(IRI, EX + "shape"),
    )
    geo_subject_quads = results.filter(results.subject == geo_url).count()
    assert geo_subject_quads == 2


def test_store_partitioned_skips_repartition(spark):
    """store_partitioned=True: engine must not add its own Exchange over
    the caller-clustered store, and results stay identical."""
    from pyspark.sql import functions as F

    from extract_cbd_shape_spark.model import quad_to_row, quad_schema
    from extract_cbd_shape_spark.rdf import parse_trig

    quads = [quad_to_row(q) for q in parse_trig(
        load_fixture("03 - CBD tests without a shape/data.ttl"))]
    base = spark.createDataFrame(quads, quad_schema())
    pre = base.repartition(F.col("subject"), F.col("subject_kind")).localCheckpoint()

    ex = BulkCBDShapeExtractor(spark)
    member = [Term(IRI, "http://example.org/B")]
    r_default, _ = ex.extract(base, member)
    r_pre, _ = ex.extract(pre, member, store_partitioned=True)
    d = {tuple(r) for r in r_default.select(*_CMP_COLS).collect()}
    p = {tuple(r) for r in r_pre.select(*_CMP_COLS).collect()}
    assert d == p and len(d) == 8


_CMP_COLS = ["entity", "subject", "predicate", "object_value"]


def test_members_distinct_contract_parity(spark):
    """members_distinct=True (value-derived deterministic ids, no seed
    checkpoint) must produce the same quads as the default path; and
    duplicate seeds collapse under the contract while the default
    keeps them as separate members (reference list semantics)."""
    from extract_cbd_shape_spark.operators.kgtriples import (
        KBO_SHAPE_IRI, KBO_SHAPE_TTL, kbo_members)

    triples, members = kbo_members(spark, "/root/testdata/sf0.001")
    shapes = ShapesGraph.from_quads(parse_trig(KBO_SHAPE_TTL))
    shape = Term(IRI, KBO_SHAPE_IRI)
    cols = ["entity", "subject", "predicate", "object_value"]
    sets = []
    for md in (False, True):
        ex = BulkCBDShapeExtractor(spark, shapes_graph=shapes)
        res, _ = ex.extract(triples, members, shape=shape,
                            members_distinct=md)
        sets.append({tuple(r) for r in res.select(*cols).collect()})
        ex.release()
    assert sets[0] == sets[1] and len(sets[0]) > 0

    # duplicate seeds: default = two members, contract = one.
    # kbo_members ships its own input_idx (identical provided ids
    # legitimately collapse) — drop it to exercise the engine's row-id
    # path; repartition(1) gives the union one partition numbering
    # (per-partition row ids, see extract() doc)
    one = members.select("entity", "entity_kind").limit(1)
    dup = one.unionByName(one).repartition(1)
    ex = BulkCBDShapeExtractor(spark, shapes_graph=shapes)
    r_default, _ = ex.extract(triples, dup, shape=shape)
    assert r_default.select("member_id").distinct().count() == 2
    r_contract, _ = ex.extract(triples, dup, shape=shape,
                               members_distinct=True)
    assert r_contract.select("member_id").distinct().count() == 1
    ex.release()


def test_latency_broadcast_budget_fallback_deep_chain(spark):
    """A blank chain deeper than the latency mode's broadcast budget:
    the early waves broadcast, the rest fall back to shuffle-hash —
    extraction must stay complete and exact (this depth class is what
    OOMed the driver when every wave pinned a broadcast)."""
    from extract_cbd_shape_spark.model import quad_schema

    depth = 60  # > _LATENCY_BCAST_BUDGET (24) waves
    rows = []
    prev = ("root:entity", 0)
    for i in range(depth):
        node = (f"b{i}", 1)
        rows.append((prev[0], prev[1], "p:next", node[0], node[1],
                     None, None, None, None))
        prev = node
    rows.append((prev[0], prev[1], "p:val", "done", 2, None, None,
                 None, None))
    df = spark.createDataFrame(rows, quad_schema())
    ex = BulkCBDShapeExtractor(spark)
    res, _ = ex.extract(df, [Term(IRI, "root:entity")])
    assert res.count() == depth + 1
    ex.release()


def test_latency_and_scale_modes_agree(spark):
    """Latency mode (broadcast counted frontiers, un-repartitioned
    cached store, no object-keyed copy) and scale mode (shuffle-hash
    joins over the subject-partitioned store) are the same logical
    plan under two physical regimes — results must be identical,
    including inverse paths and the witness slice."""
    from extract_cbd_shape_spark.operators.kgtriples import (
        KBO_SHAPE_INV_TTL, KBO_SHAPE_IRI, kbo_members)

    triples, members = kbo_members(
        spark, "/root/testdata/sf0.001", inverse_edges=2)
    shapes = ShapesGraph.from_quads(parse_trig(KBO_SHAPE_INV_TTL))
    shape = Term(IRI, KBO_SHAPE_IRI)
    cols = ["entity", "subject", "predicate", "object_value"]
    sets = []
    for knob in (2_000_000, 0):  # latency, then forced scale
        ex = BulkCBDShapeExtractor(
            spark, shapes_graph=shapes, store_distinct=True,
            broadcast_members_max=knob)
        res, _ = ex.extract(triples, members, shape=shape)
        sets.append({tuple(r) for r in res.select(*cols).collect()})
        ex.release()
    assert sets[0] == sets[1] and len(sets[0]) > 0
