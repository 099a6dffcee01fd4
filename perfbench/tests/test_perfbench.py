"""The benchmark's own tests: seeded generators, the metric contract
with BENCHMARK.json, the layer map and the AQE-aware plan walk.

    python -m pytest perfbench/tests -q
"""

import hashlib
import json
import os

import pytest

import gen
import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _fingerprint(items) -> str:
    h = hashlib.sha256()
    for item in items:
        h.update(repr(item).encode())
    return h.hexdigest()


@pytest.mark.parametrize("make", [gen.html_pages, gen.pdf_docs])
def test_document_generators_are_seeded(make):
    a = make(7, scale=0.1)
    assert _fingerprint(a) == _fingerprint(make(7, scale=0.1))
    assert _fingerprint(a) != _fingerprint(make(8, scale=0.1))
    assert _fingerprint(a) != _fingerprint(make(7, shard=1, scale=0.1))
    assert len({data for _, data in a}) == len(a), "payloads must be distinct"


def test_curate_generator_is_seeded():
    rows, truth = gen.curate_rows(7, scale=0.2)
    again, truth2 = gen.curate_rows(7, scale=0.2)
    assert _fingerprint(rows) == _fingerprint(again) and truth == truth2
    assert _fingerprint(rows) != _fingerprint(gen.curate_rows(8, scale=0.2)[0])
    urls = {r[0] for r in rows}
    assert set(truth["spam_urls"]) <= urls and set(truth["error_urls"]) <= urls


def test_html_shard_shape():
    docs = gen.html_pages(3)
    heavy = [d for _, d in docs if len(d) > gen.MIB]
    assert len(docs) == 303 and len(heavy) == 3
    non_utf8 = 0
    for _, d in docs:
        try:
            d.decode("utf-8")
        except UnicodeDecodeError:
            non_utf8 += 1
    assert 0.2 < non_utf8 / len(docs) < 0.4


def test_error_rows_are_exactly_the_malformed_documents():
    from pdf_parser_spark.engine import extract_document

    src = gen.Source("malformed-test")
    for kind in range(4):
        assert extract_document(gen._malformed_pdf(src, kind))["error_kind"], kind
    for url, data in gen.pdf_docs(7, scale=0.2):
        if "/malformed/" not in url:
            assert extract_document(data)["error_kind"] is None, url


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match_benchmark_json():
    import inproc

    bench = _benchmark()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    produced = {f"curate.{s}.{k}" for s, _ in run.CURATE_STAGES
                for k in ("s", "rows_out", "shuffle_bytes")}
    produced |= set(inproc.PDF_KEYS + inproc.HTML_KEYS)
    assert produced <= set(run.PER_LAYER)


def test_layer_map_covers_every_per_layer_metric():
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as f:
        groups = json.load(f)["groups"]
    mapped = [m for g in groups for m in g["metrics"]]
    assert sorted(mapped) == sorted(run.PER_LAYER)
    for g in groups:
        for metric, workloads in g["moves"].items():
            assert metric in run.END_TO_END
            assert set(workloads) <= set(run.WORKLOADS)


def test_plan_walk_finds_arrow_udf(tmp_path):
    pytest.importorskip("pyspark")
    from pdf_parser_spark.spark.job import lineage, run_extract
    from pdf_parser_spark.spark.session import build_session

    import probes

    docs = gen.html_pages(5, scale=0.02)
    path = str(tmp_path / "pages.parquet")
    gen.write_pages(path, docs)
    spark = build_session("perfbench-test", master="local[2]", shuffle_partitions=2)
    try:
        extracted = run_extract(spark.read.parquet(path)).persist()
        lin = lineage(extracted)
        lin.collect()
        pm = probes.plan_metrics(lin)
        extracted.unpersist()
    finally:
        spark.stop()
    assert pm["udf.nodes"] == 2  # the normal and the heavy route
    assert pm["udf.normal.rows"] + pm["udf.heavy.rows"] == len(docs)
    assert pm["udf.heavy.rows"] == sum(len(d) > gen.MIB for _, d in docs)
    assert pm["scan.bytes"] > 0 and pm["udf.normal.python_total_ms"] > 0
    read_from_plan = {k for k in run.PER_LAYER
                      if k.startswith(("scan.", "shuffle.", "udf.normal.", "udf.heavy."))}
    assert read_from_plan <= set(pm)
