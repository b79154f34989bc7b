"""End-to-end KG pipeline tests: stage snapshots, resume, lineage,
page-text invariant."""

import json
import os

import pytest
from pyspark.sql import functions as F

from extract_cbd_shape_spark.plans.pipeline import KGConstructionPipeline
from extract_cbd_shape_spark.sinks.materialize import (
    latest_manifest,
    latest_snapshot_paths,
    materialize_table,
    read_latest_snapshot,
)
from extract_cbd_shape_spark.sources.pages import (
    extract_page_text,
    synth_pages,
)

SF = "/root/testdata/sf0.001"


def test_page_text_byte_identical(spark):
    pages = synth_pages(spark, SF)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    extracted = extract_page_text(pages)
    joined = pages.select("url", "text").join(extracted, "url")
    n = joined.count()
    assert n == docs.count()
    mismatches = joined.filter(F.col("text") != F.col("extracted_text")).count()
    assert mismatches == 0


def test_materialize_snapshots_and_manifest(spark, tmp_path):
    df = spark.range(100).select(
        F.concat(F.lit("s"), F.col("id")).alias("subject"),
        F.lit("p").alias("predicate"),
    )
    path = str(tmp_path / "tbl")
    m1 = materialize_table(df, path, "stage1", n_buckets=4)
    assert m1["snapshot"] == 0 and m1["rows"] == 100
    assert len(m1["partitions"]) <= 4
    m2 = materialize_table(df.limit(10), path, "stage2", n_buckets=4)
    assert m2["snapshot"] == 1 and m2["parent"] == 0
    latest = read_latest_snapshot(spark, path)
    assert latest.count() == 10
    assert latest_manifest(path)["stage"] == "stage2"


def test_pipeline_end_to_end_and_resume(spark, tmp_path):
    wh = str(tmp_path / "wh")
    pages = synth_pages(spark, SF).limit(50)
    pipe = KGConstructionPipeline(spark, wh)
    manifests = pipe.run(pages, resume=False)
    assert manifests["raw_triples"]["rows"] > 0
    assert manifests["entity_triples"]["rows"] > 0
    assert manifests["links"]["rows"] > 0
    assert manifests["triples"]["rows"] >= manifests["entity_triples"]["rows"]
    # lineage: per-bucket partition stats present
    assert manifests["raw_triples"]["partitions"]

    # Resume: no new snapshots are written when all stages are done.
    snaps_before = {
        t: sorted(os.listdir(os.path.join(wh, t))) for t in os.listdir(wh)
    }
    pipe2 = KGConstructionPipeline(spark, wh)
    manifests2 = pipe2.run(pages, resume=True)
    snaps_after = {
        t: sorted(os.listdir(os.path.join(wh, t))) for t in os.listdir(wh)
    }
    assert snaps_before == snaps_after
    assert manifests2["triples"]["rows"] == manifests["triples"]["rows"]


def test_materialize_append_snapshot(spark, tmp_path):
    df1 = spark.range(60).select(
        F.concat(F.lit("s"), F.col("id")).alias("subject"),
        F.lit("p").alias("predicate"),
    )
    df2 = spark.range(60, 100).select(
        F.concat(F.lit("s"), F.col("id")).alias("subject"),
        F.lit("p").alias("predicate"),
    )
    path = str(tmp_path / "tbl")
    m1 = materialize_table(df1, path, "ingest", n_buckets=4)
    m2 = materialize_table(df2, path, "ingest", n_buckets=4, append=True)
    assert m2["rows"] == 100 and m2["delta_rows"] == 40
    assert len(m2["data_dirs"]) == 2
    latest = read_latest_snapshot(spark, path)
    assert latest.count() == 100
    assert "bucket" in latest.columns  # partition col survives multi-root read
    # layout mismatch is rejected, not silently mixed
    with pytest.raises(ValueError):
        materialize_table(df2, path, "ingest", n_buckets=8, append=True)
    # a later full write supersedes the chain
    m3 = materialize_table(df1, path, "rebuild", n_buckets=4)
    assert m3["rows"] == 60
    assert read_latest_snapshot(spark, path).count() == 60


def test_pipeline_incremental_matches_full(spark, tmp_path):
    """run_incremental(batch B) over a warehouse built from batch A must
    produce the same final graph as one full run over A ∪ B, while only
    parsing/extracting B (delta snapshots inherit parent files)."""
    pages = synth_pages(spark, SF).orderBy("url")
    pages_a = pages.filter(F.col("url").endswith("0") | F.col("url").endswith("1")
                           | F.col("url").endswith("2"))
    pages_b = pages.subtract(pages_a)

    wh_inc = str(tmp_path / "wh_inc")
    pipe = KGConstructionPipeline(spark, wh_inc)
    m_a = pipe.run(pages_a, resume=False)
    m_inc = pipe.run_incremental(pages_b)

    wh_full = str(tmp_path / "wh_full")
    m_full = KGConstructionPipeline(spark, wh_full).run(
        pages_a.unionByName(pages_b), resume=False)

    # corpus-scale tables: appended, row-exact vs the full run
    assert m_inc["raw_triples"]["rows"] == m_full["raw_triples"]["rows"]
    assert m_inc["entity_triples"]["rows"] == m_full["entity_triples"]["rows"]
    assert len(latest_snapshot_paths(os.path.join(wh_inc, "raw_triples"))) == 2
    assert len(latest_snapshot_paths(os.path.join(wh_inc, "entity_triples"))) == 2
    # stage 2 touched ONLY the delta's bucket files
    delta_raw = os.path.join(
        wh_inc, "raw_triples",
        f"snap-{m_inc['raw_triples']['snapshot']:04d}", "data")
    srcs = {p["src"] for p in m_inc["entity_triples"]["partitions"]}
    assert srcs and all(s.startswith(delta_raw) for s in srcs)

    # final graph identical (order-insensitive)
    cols = ["subject", "predicate", "object_value"]
    got = {tuple(r) for r in read_latest_snapshot(
        spark, os.path.join(wh_inc, "triples")).select(*cols).collect()}
    want = {tuple(r) for r in read_latest_snapshot(
        spark, os.path.join(wh_full, "triples")).select(*cols).collect()}
    assert got == want and len(got) > 0

    # and the raw corpus reads back as the union
    assert read_latest_snapshot(
        spark, os.path.join(wh_inc, "raw_triples")).count() == \
        m_full["raw_triples"]["rows"]


def test_pipeline_incremental_giant_delta_routing(spark, tmp_path, monkeypatch):
    """A giant page arriving IN the delta batch must route through the
    global engine during the incremental run and still land in the
    inherited entity_triples snapshot."""
    import extract_cbd_shape_spark.plans.pipeline as pipemod

    pages = synth_pages(spark, SF).orderBy("url").limit(12)
    pages_a = pages.limit(6)
    pages_b = pages.subtract(pages_a)

    wh = str(tmp_path / "wh")
    pipe = KGConstructionPipeline(spark, wh)
    pipe.run(pages_a, resume=False)
    monkeypatch.setattr(pipemod, "GIANT_PAGE_QUADS", 2)
    m_inc = pipe.run_incremental(pages_b)
    assert m_inc["raw_triples"]["delta_giant_stores"], "delta pages must be giant"

    wh_full = str(tmp_path / "wh_full")
    monkeypatch.setattr(pipemod, "GIANT_PAGE_QUADS", 2_000_000)
    m_full = KGConstructionPipeline(spark, wh_full).run(
        pages_a.unionByName(pages_b), resume=False)
    cols = ["entity", "subject", "predicate", "object_value"]
    a = {tuple(r) for r in read_latest_snapshot(
        spark, os.path.join(wh, "entity_triples")).select(*cols).collect()}
    b = {tuple(r) for r in read_latest_snapshot(
        spark, os.path.join(wh_full, "entity_triples")).select(*cols).collect()}
    assert a == b and len(a) > 0


def test_pipeline_giant_page_routing_parity(spark, tmp_path, monkeypatch):
    """With GIANT_PAGE_QUADS forced low every page becomes 'giant' and
    stage 2's sink-fused kernel must exclude them while the global
    engine serves them into the same snapshot — the triple set must
    equal a normal-threshold run."""
    import extract_cbd_shape_spark.plans.pipeline as pipemod

    # deterministic page subset (a bare limit() may pick different rows
    # per action, and the two pipelines must see identical input)
    pages = synth_pages(spark, SF).orderBy("url").limit(20)
    base = KGConstructionPipeline(spark, str(tmp_path / "wh1")).run(
        pages, resume=False)

    monkeypatch.setattr(pipemod, "GIANT_PAGE_QUADS", 2)
    giant = KGConstructionPipeline(spark, str(tmp_path / "wh2")).run(
        pages, resume=False)
    assert giant["entity_triples"]["rows"] == base["entity_triples"]["rows"]
    assert giant["entity_triples"]["giant_stores"], "pages must route giant"
    cols = ["entity", "subject", "predicate", "object_value"]
    a = {tuple(r) for r in read_latest_snapshot(
        spark, str(tmp_path / "wh1/entity_triples")).select(*cols).collect()}
    b = {tuple(r) for r in read_latest_snapshot(
        spark, str(tmp_path / "wh2/entity_triples")).select(*cols).collect()}
    assert a == b and len(a) > 0
    assert giant["triples"]["rows"] == base["triples"]["rows"]


def test_giant_routing_releases_engine_cache(spark, tmp_path, monkeypatch):
    """Giant pages run on the global engine, whose persisted store
    copies must be released once the giant results are written —
    otherwise every giant page (and every streaming micro-batch) leaves
    its cached copies in the session for the life of the driver."""
    import extract_cbd_shape_spark.plans.pipeline as pipemod

    pages = synth_pages(spark, SF).orderBy("url").limit(6)
    spark.catalog.clearCache()
    monkeypatch.setattr(pipemod, "GIANT_PAGE_QUADS", 2)
    m = KGConstructionPipeline(spark, str(tmp_path / "wh")).run(
        pages, resume=False)
    assert m["entity_triples"]["giant_stores"], "pages must route giant"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_resume_rejects_non_store_complete_raw_triples(spark, tmp_path):
    """Stage 2 has one physical path, the sink-fused file scan, which
    needs raw_triples bucketed store-complete by page_url. A snapshot
    written any other way is rejected, not extracted some other way."""
    wh = str(tmp_path / "wh")
    pages = synth_pages(spark, SF).orderBy("url").limit(5)
    pipe = KGConstructionPipeline(spark, wh)
    materialize_table(pipe._parse_pages(pages),
                      os.path.join(wh, "raw_triples"), "extract_pages")
    with pytest.raises(ValueError, match="store-complete"):
        pipe.run(pages, resume=True)


def test_blank_label_scoping_across_pages(spark):
    """Two pages each yield a parser-local _:b0 author node; after the
    global union their labels must NOT merge: each document's CBD pulls
    in exactly its own author name (reference blank scoping,
    lib/Shape.ts:115-138; SURVEY §7c)."""
    from extract_cbd_shape_spark.model import IRI, Term
    from extract_cbd_shape_spark.operators import BulkCBDShapeExtractor
    from extract_cbd_shape_spark.sources.pages import (
        extract_page_triples,
        scope_blank_label,
        synth_pages,
    )

    pages = synth_pages(spark, SF).limit(2)
    raw = extract_page_triples(pages)
    rows = raw.collect()
    blanks = {r.subject for r in rows if r.subject_kind == 1}
    # each page yields a _:b0 (JSON-LD author) and a _:md0 (microdata
    # person without itemid); all four labels must stay distinct
    assert len(blanks) == 4, "each page must get its own scoped labels"
    # global-engine extraction: author name must follow its own doc
    triples = raw.select(
        "subject", F.col("subject_kind").cast("tinyint"), "predicate",
        "object_value", F.col("object_kind").cast("tinyint"),
        F.lit(None).cast("string").alias("object_lang"),
        F.lit(None).cast("string").alias("object_datatype"),
        F.lit(None).cast("string").alias("graph"),
        F.lit(None).cast("tinyint").alias("graph_kind"),
    )
    docs = sorted({r.subject for r in rows
                   if r.subject_kind == 0 and r.predicate == "kg:author"})
    ex = BulkCBDShapeExtractor(spark)
    res, _ = ex.extract(triples, [Term(IRI, d) for d in docs])
    per_doc = {
        d: {r.object_value for r in res.collect()
            if r.entity == d and r.predicate == "kg:name"}
        for d in docs
    }
    for d in docs:
        assert len(per_doc[d]) == 1, per_doc
    assert per_doc[docs[0]] != per_doc[docs[1]] or len(set(
        v for s in per_doc.values() for v in s)) == 1
    # deterministic scoping helper
    assert scope_blank_label("u1", "_:b0") != scope_blank_label("u2", "_:b0")


def test_pipeline_construct_enrichment_stage(spark, tmp_path):
    """Stage 4b: CONSTRUCT rules over the extracted graph derive new
    triples into their own snapshot and the final triples union;
    resume skips the rule evaluation."""
    from extract_cbd_shape_spark.sinks.materialize import (
        read_latest_snapshot,
    )

    wh = str(tmp_path / "wh_enrich")
    pages = synth_pages(spark, SF).limit(30)
    rule = {
        "patterns": [("?p", "kg:author", "?a"), ("?p", "kg:lang", "?l")],
        "template": [("?a", "kg:writesIn", "?l")],
    }
    pipe = KGConstructionPipeline(spark, wh, construct_rules=[rule])
    manifests = pipe.run(pages, resume=False)
    assert manifests["derived_triples"]["rows"] > 0

    derived = read_latest_snapshot(spark, os.path.join(wh, "derived_triples"))
    got = {tuple(r) for r in derived.select(
        "subject", "predicate", "object_value").collect()}
    assert all(p == "kg:writesIn" for _, p, _ in got)

    # hand-derive the expected rule output from the entity graph.
    # Blank-node subjects (kg:author objects are page-scoped blanks)
    # must carry the kind-less layout's '_:' prefix in the flattened
    # derived table (ADVICE r4) — a bare label would be
    # indistinguishable from an IRI downstream.
    from extract_cbd_shape_spark.model import BLANK as _BLANK

    et = read_latest_snapshot(spark, os.path.join(wh, "entity_triples"))
    authors = et.filter(F.col("predicate") == "kg:author").select(
        F.col("subject").alias("p"),
        F.when(F.col("object_kind") == int(_BLANK),
               F.concat(F.lit("_:"), F.col("object_value")))
        .otherwise(F.col("object_value")).alias("a"))
    langs = et.filter(F.col("predicate") == "kg:lang").select(
        F.col("subject").alias("p"), F.col("object_value").alias("l"))
    want = {(r.a, "kg:writesIn", r.l)
            for r in authors.join(langs, "p").collect()}
    assert got == want
    assert any(s.startswith("_:") for s, _, _ in got)

    # derived triples are in the final table
    final = read_latest_snapshot(spark, os.path.join(wh, "triples"))
    n_writes = final.filter(F.col("predicate") == "kg:writesIn").count()
    assert n_writes == len(got)

    # resume: rules not re-run, snapshots unchanged
    snaps_before = sorted(os.listdir(os.path.join(wh, "derived_triples")))
    KGConstructionPipeline(spark, wh, construct_rules=[rule]).run(
        pages, resume=True)
    assert sorted(os.listdir(os.path.join(wh, "derived_triples"))) == snaps_before


def test_incremental_rerun_updates_derived_triples(spark, tmp_path):
    """CONSTRUCT enrichment under run_incremental: graph stages run with
    resume=False per batch, so the derived snapshot reflects the UNION
    after the delta, not the stale first-batch rules output."""
    from extract_cbd_shape_spark.sinks.materialize import (
        read_latest_snapshot,
    )

    pages = synth_pages(spark, SF).orderBy("url").limit(20).cache()
    w1 = pages.limit(10)
    w2 = pages.subtract(w1)
    wh = str(tmp_path / "wh_incr_enrich")
    rule = {
        "patterns": [("?p", "kg:author", "?a"), ("?p", "kg:lang", "?l")],
        "template": [("?a", "kg:writesIn", "?l")],
    }
    pipe = KGConstructionPipeline(spark, wh, construct_rules=[rule])
    m1 = pipe.run(w1, resume=False)
    n1 = m1["derived_triples"]["rows"]
    m2 = pipe.run_incremental(w2, epoch=1)
    n2 = m2["derived_triples"]["rows"]
    assert n1 > 0 and n2 > n1
    # derived rows equal a full batch run over all pages
    wh_full = str(tmp_path / "wh_full_enrich")
    mf = KGConstructionPipeline(
        spark, wh_full, construct_rules=[rule]).run(pages, resume=False)
    assert n2 == mf["derived_triples"]["rows"]
    got = {tuple(r) for r in read_latest_snapshot(
        spark, os.path.join(wh, "derived_triples"))
        .select("subject", "predicate", "object_value").collect()}
    want = {tuple(r) for r in read_latest_snapshot(
        spark, os.path.join(wh_full, "derived_triples"))
        .select("subject", "predicate", "object_value").collect()}
    assert got == want
