"""The benchmark's checks must report a corrupted output as a failed op,
and pass the unmodified program's output.

Run with ``python3 -m pytest e2e_bench/tests -q`` from the checkout root.
"""

from __future__ import annotations

import json
import numbers
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from e2e_bench import reference as ref
from e2e_bench.curate import Curate, check_pass, registry
from e2e_bench.ingest import check_warehouse
from e2e_bench.ingest_refresh_serve import IngestRefreshServe, check_op
from e2e_bench.trace import NullTracer


def rewrite_table(wh: str, table: str, edit) -> None:
    """Replace a committed table's data with ``edit(rows)``."""
    d = os.path.join(wh, table, "data")
    tbl = ref.read_parquet_dir(d)
    rows = edit(tbl.to_pylist())
    shutil.rmtree(d)
    os.makedirs(d)
    pq.write_table(pa.Table.from_pylist(rows, schema=tbl.schema), os.path.join(d, "part.parquet"))


@pytest.fixture(scope="module")
def lifecycle(spark_run):
    spark, run = spark_run
    w = IngestRefreshServe(spark, 3, run, 2)
    w.n_turns = 400
    w.setup()
    res = w.op(0, NullTracer())
    return w, res


def copy_of(path: str, tmp_path, name: str) -> str:
    out = str(tmp_path / name)
    shutil.copytree(path, out)
    return out


def test_unmodified_lifecycle_passes(lifecycle):
    w, res = lifecycle
    assert w.check(res) == []


def test_changed_extracted_text_is_a_failure(lifecycle, tmp_path):
    w, res = lifecycle
    wh = copy_of(res.data["rebuilt"], tmp_path, "rebuilt")

    def edit(rows):
        rows[7]["extracted_text"] += " tampered"
        return rows

    rewrite_table(wh, "extracted_spans", edit)
    errs, _ = check_warehouse(wh, w.rows_by_key, w.snap["goldens"])
    assert any("extracted_text" in e for e in errs), errs


def test_dropped_spans_row_is_a_failure(lifecycle, tmp_path):
    w, res = lifecycle
    d = res.data
    wh = copy_of(d["wh"], tmp_path, "refreshed")
    rewrite_table(wh, "extracted_spans", lambda rows: rows[1:])
    refresh_errs, _ = check_op(wh, d["rebuilt"], len(w.snap["changed"]), d["changed_convs"],
                               [], d["avgdl"], d["n_docs"])
    assert any("spans" in e for e in refresh_errs), refresh_errs


def test_reordered_search_answer_is_a_failure(lifecycle):
    w, res = lifecycle
    d = res.data
    searches = [a for a in d["answers"]
                if a[0][0] == "c5_search_tokens_indexed" and len(a[1]) >= 2]
    assert searches, "the burst holds no multi-row tf-sum search"
    req, ans, lat = searches[0]
    swapped = [ans[1], ans[0], *ans[2:]]
    _, clean = check_op(d["wh"], d["rebuilt"], len(w.snap["changed"]), d["changed_convs"],
                        [(req, ans, lat)], d["avgdl"], d["n_docs"])
    _, bad = check_op(d["wh"], d["rebuilt"], len(w.snap["changed"]), d["changed_convs"],
                      [(req, swapped, lat)], d["avgdl"], d["n_docs"])
    assert clean == [] and len(bad) == 1


@pytest.fixture(scope="module")
def curate_frames(spark_run):
    spark, run = spark_run
    w = Curate(spark, 3, run, 2)
    w.setup()
    ops = ("dedup_ngram_jaccard", "text_bpe_encode")
    frames = {op: registry().SPARK_QUERIES[op](spark, w.dir).toPandas() for op in ops}
    return w, frames


def test_unmodified_curate_ops_pass(curate_frames):
    w, frames = curate_frames
    assert all(len(f) > 0 for f in frames.values())
    assert check_pass(frames, w.reference()) == []


def test_altered_curate_row_is_a_failure(curate_frames):
    w, frames = curate_frames
    bad = {op: f.copy() for op, f in frames.items()}
    col = bad["text_bpe_encode"].columns[-1]
    v = bad["text_bpe_encode"].at[0, col]
    bad["text_bpe_encode"].at[0, col] = v + 1 if isinstance(v, numbers.Number) else str(v) + "x"
    errs = check_pass(bad, w.reference())
    assert len(errs) == 1 and errs[0].startswith("text_bpe_encode"), errs


def test_empty_curate_answer_is_a_failure(curate_frames):
    w, frames = curate_frames
    empty = {op: f.iloc[0:0] for op, f in frames.items()}
    assert len(check_pass(empty, w.reference())) == len(empty)


def test_benchmark_json_names_the_workloads_run_py_runs():
    from e2e_bench import env, run

    with open(os.path.join(env.CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.workloads())


def test_exclusive_time_sums_to_the_root_wall():
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    from e2e_bench.trace import Tracer

    class FakeContext:
        def setLocalProperty(self, key, value):
            pass

    class FakeSession:
        sparkContext = FakeContext()

    tr = Tracer(FakeSession())
    with tr.span("op.root") as root:
        time.sleep(0.02)
        with tr.span("tableio.commit_stage"):
            time.sleep(0.02)
        with ThreadPoolExecutor(2) as pool:
            parent = tr.current()

            def child(name):
                tr._adopt(parent)
                with tr.span(name):
                    time.sleep(0.03)
                return threading.get_ident()

            list(pool.map(child, ["scale.a", "serving.b"]))
    excl = tr.exclusive_by_layer(root)
    assert abs(sum(excl.values()) - root.dur) < 1e-9
    assert excl["_root"] >= 0.015 and excl["tableio"] >= 0.015
    assert {s.parent.id for s in tr.spans if s.name in ("scale.a", "serving.b")} == {root.id}
