"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, gen  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.run import missing_layers  # noqa: E402
from perfbench.stats import tail  # noqa: E402
from perfbench.trace import NoTracer, self_time, union_wall  # noqa: E402
from perfbench.workloads import Ingest  # noqa: E402


@pytest.fixture(scope="module")
def base(tmp_path_factory):
    return gen.ensure_base(str(tmp_path_factory.mktemp("work")))


def _same_tree(a: str, b: str) -> bool:
    files_a = sorted(os.path.relpath(p, a) for p in gen.tree_files(a))
    files_b = sorted(os.path.relpath(p, b) for p in gen.tree_files(b))
    return files_a == files_b and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in files_a
    )


def test_generator_is_deterministic_per_seed(base, tmp_path):
    for workload in ("ingest", "refresh"):
        maker = gen.make_ingest if workload == "ingest" else gen.make_refresh
        maker(base, str(tmp_path / f"{workload}-a"), 7)
        maker(base, str(tmp_path / f"{workload}-b"), 7)
        maker(base, str(tmp_path / f"{workload}-c"), 8)
        assert _same_tree(str(tmp_path / f"{workload}-a"), str(tmp_path / f"{workload}-b"))
        assert not _same_tree(str(tmp_path / f"{workload}-a"), str(tmp_path / f"{workload}-c"))
    assert gen.query_order(7) == gen.query_order(7)
    assert gen.query_order(7) != gen.query_order(8)
    assert sorted(gen.query_order(7)) == sorted(gen.QUERY_NAMES)


def test_base_tables_do_not_depend_on_the_run(base, tmp_path):
    again = gen.ensure_base(str(tmp_path))
    assert _same_tree(base, again)


def test_self_time_with_overlapping_children():
    parent = {"start": 0.0, "end": 10.0}
    kids = [
        {"start": 1.0, "end": 4.0},
        {"start": 2.0, "end": 6.0},   # overlaps the first: union is 1..6
        {"start": 8.0, "end": 12.0},  # runs past the parent: clipped at 10
    ]
    assert self_time(parent, kids) == pytest.approx(10.0 - 5.0 - 2.0)
    assert self_time(parent, []) == pytest.approx(10.0)
    assert union_wall(kids) == pytest.approx(11.0)


def test_tail_uses_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert tail(xs) == {"p": 90.0, "value": 90.0, "n": 100}
    assert tail([1.0] * 1000)["p"] == 99.0
    assert tail([1.0] * 25)["p"] == 50.0
    assert tail([1.0] * 15) == {"p": None, "value": None, "n": 15}


def _csv(path, rows):
    import pyarrow as pa

    cols = {name: [0] * len(rows) for name in gen.INGEST_SCHEMA}
    gen.write_csv(str(path), pa.table({**cols, "rid": rows}))
    return str(path)


def test_expected_ingest_counts_from_key_overlap(tmp_path):
    ins = _csv(tmp_path / "i.csv", ["a", "b", "c", "c"])
    mrg = _csv(tmp_path / "m.csv", ["c", "d", "d", "e"])
    exp = checks.expected_ingest(ins, mrg)
    assert exp["insert"] == {"total": 4, "updated": 0, "inserted": 3,
                             "deduped": 1, "skipped": 0, "failed": 0}
    assert exp["merge"] == {"total": 4, "updated": 1, "inserted": 2,
                            "deduped": 1, "skipped": 0, "failed": 0}
    assert exp["final_rows"] == 5


def test_checker_flags_a_wrong_count(tmp_path):
    exp = {"total": 4, "updated": 1, "inserted": 2, "deduped": 1, "skipped": 0, "failed": 0}
    good = {**exp, "processed": 3, "upsert_deduped": 1}
    assert checks.check_ingest(exp, good) == []
    bad = {**good, "inserted": 3}
    assert checks.check_ingest(exp, bad) == ["inserted: expected 2, got 3"]

    report = {"src0": dict(zip(checks.REPORT_COLS, (4, 0, 1, 3, 100, 80, 0.75)))}
    row = {"source": "src0", **report["src0"]}
    assert checks.check_refresh_batch(report, [row]) == []
    assert checks.check_refresh_batch(report, [{**row, "n_novel": 2}])

    assert checks.compare_results([(1, 2.0)], [(1, 2.0 + 1e-12)]) == []
    assert checks.compare_results([(1, 2.0)], [(1, 2.5)])
    assert checks.compare_results([(1, 2.0)], [])


def test_expected_refresh_counts_prior_batch_duplicates(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    batches = []
    for b, (ids, texts) in enumerate([
        ([1, 2, 3], ["a b", "A  b!", "c d"]),  # 2 is an in-batch dup of 1
        ([4, 5], ["c d.", "e f"]),             # 4 is a corpus dup of 3
    ]):
        d = tmp_path / f"b{b}"
        d.mkdir()
        pq.write_table(pa.table({
            "doc_id": ids, "text": texts, "lang": ["en"] * len(ids),
            "source": ["s"] * len(ids), "n_chars": [len(t) for t in texts],
        }), str(d / "part-0.parquet"))
        batches.append(str(d))
    exp, n_docs = checks.expected_refresh(batches)
    assert n_docs == 5
    assert exp[0]["s"]["n_dup_batch"] == 1 and exp[0]["s"]["n_novel"] == 2
    assert exp[1]["s"]["n_dup_corpus"] == 1 and exp[1]["s"]["n_novel"] == 1


def _span(sid, name, parent, start, end, **counters):
    return {"id": sid, "name": name, "parent": parent, "start": start, "end": end,
            "s": end - start, **dict.fromkeys(("jobs", "tasks", "executor_cpu_ms",
            "shuffle_write_bytes", "spill_bytes", "gc_ms", "output_bytes"), 1), **counters}


def test_a_wrapper_that_records_nothing_fails_the_traced_run():
    wl = Ingest.__new__(Ingest)
    wl.in_bytes = {"insert": 100, "merge": 100}
    passes = [{"files_written": {"insert": 3, "merge": 4}}]
    spans = []
    for op, top in (("insert", 1), ("merge", 10)):
        spans.append(_span(top, f"ingest.{op}", None, 0.0, 10.0))
        spans.append(_span(top + 1, "readers", top, 1.0, 2.0))
        spans.append(_span(top + 2, "validators", top, 2.0, 3.0))
        spans.append(_span(top + 3, "upsert", top, 4.0, 8.0))
    layers = wl.layers(spans, passes)
    assert missing_layers(PER_LAYER, wl.PREFIXES, layers) == []
    assert layers["ingest.merge.upsert.s"] == pytest.approx(4.0)
    assert layers["ingest.merge.pipeline.self_s"] == pytest.approx(10.0 - 6.0)

    # the merge's upsert wrapper saw no call (say the function is now
    # looked up where the benchmark does not wrap it)
    layers = wl.layers([s for s in spans if s["id"] != 13], passes)
    missing = missing_layers(PER_LAYER, wl.PREFIXES, layers)
    assert "ingest.merge.upsert.s" in missing
    assert "ingest.merge.upsert.bytes_written_per_input_byte" in missing
    assert not [n for n in missing if not n.startswith("ingest.merge.upsert.")]
    # a layer of another workload is not this workload's to report
    assert "refresh.fold.max_s" not in missing


def test_patches_are_restored():
    import types

    mod = types.SimpleNamespace(f=lambda: "orig")
    tracer = NoTracer()
    tracer.patch(mod, "f", lambda: "patched")
    tracer.wrap(mod, "f", "f")
    assert mod.f() == "patched"
    tracer.restore()
    assert mod.f() == "orig"


def test_benchmark_json_lists_what_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == ["ingest", "refresh"]
