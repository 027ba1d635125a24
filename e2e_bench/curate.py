"""curate: one op is one pass over the slow curation extras (dedup,
curation, similarity and text statistics operators) on a seeded row
permutation of the bundled ``documents``/``embeddings`` tables, with a
seed-derived id offset. The pass bypasses ``core``/``stages``/``tableio``
and is dominated by per-job overhead, shuffles and the operators'
eager ``localCheckpoint`` materializations.

Each op's result is collected to pandas inside the timed region; the
check runs afterwards: twinned ops against their DuckDB twin under the
oracle-parity canonicalization, the two ops without a twin for
non-emptiness and equality with their first pass. The reference answers
are computed on the first check, outside both the timed set-up and the
timed op.
"""

from __future__ import annotations

import importlib
import os
import random
import time
from statistics import median

import pyarrow.parquet as pq

from . import reference as ref
from .env import BENCH_DIR
from .workload import OpResult, Workload, spans_named, spark_layers

DATA = os.path.join(BENCH_DIR, "data")
TABLES = ("documents", "embeddings")
ID_COL = {"documents": "doc_id", "embeddings": "vec_id"}
CURATE_OPS = (
    "curation_funnel", "text_quality_lr", "dedup_incremental", "split_leakage_safe",
    "dedup_survivors", "embed_pq_error", "dedup_semantic", "text_bpe_encode",
    "dedup_ngram_jaccard", "dedup_minhash_portable", "decontaminate_bloom",
    # no DuckDB twin: checked for non-emptiness and against their first pass
    "dedup_minhash_lsh", "dedup_simhash_pairs",
)


def registry():
    return importlib.import_module("amazon_textract_enhancer_spark.operators.registry")


def write_permuted(seed: int, out_dir: str) -> dict:
    """Seeded row permutation plus a seed-derived id offset of each
    bundled table; returns {table: rows}."""
    import pyarrow as pa

    rng = random.Random(f"{seed}|curate")
    offset = 10_000 * (1 + seed % 89)
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for t in TABLES:
        tbl = pq.read_table(os.path.join(DATA, f"{t}.parquet"))
        order = list(range(tbl.num_rows))
        rng.shuffle(order)
        tbl = tbl.take(pa.array(order))
        i = tbl.schema.get_field_index(ID_COL[t])
        ids = pa.compute.add(tbl.column(i), pa.scalar(offset, tbl.schema.field(i).type))
        tbl = tbl.set_column(i, tbl.schema.field(i), ids)
        pq.write_table(tbl, os.path.join(out_dir, f"{t}.parquet"))
        sizes[t] = tbl.num_rows
    sizes["id_offset"] = offset
    return sizes


def storage(spark) -> tuple[int, int, dict]:
    """(bytes, cached partitions, {rdd id: bytes}) held by persisted and
    checkpointed RDD blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    per = {i.id(): i.memSize() + i.diskSize() for i in infos}
    return sum(per.values()), sum(i.numCachedPartitions() for i in infos), per


def twin_answers(in_dir: str) -> dict:
    """Canonical DuckDB twin result of every twinned op over ``in_dir``."""
    twins = registry().ORACLE_SQL
    con = ref.duck({t: os.path.join(in_dir, f"{t}.parquet") for t in TABLES})
    try:
        return {op: ref.canon_frame(con.execute(twins[op]).df())
                for op in CURATE_OPS if op in twins}
    finally:
        con.close()


def check_pass(frames: dict, want: dict) -> list[str]:
    """Failures of one pass. ``want`` holds each op's canonical
    reference: the DuckDB twin's result, or for an op without a twin
    its own first-pass result."""
    errs = []
    for op, pdf in frames.items():
        if len(pdf) == 0:
            # every op returns rows on the un-offset tables, so an empty
            # answer means the op did no work on this input
            errs.append(f"{op}: empty result")
            continue
        got = ref.canon_frame(pdf)
        if got[0] != want[op][0]:
            errs.append(f"{op}: columns {got[0]} != reference {want[op][0]}")
        elif got[1] != want[op][1]:
            bad = sum(a != b for a, b in zip(got[1], want[op][1]))
            errs.append(f"{op}: {bad + abs(len(got[1]) - len(want[op][1]))} rows differ "
                        "from the reference")
    return errs


class Curate(Workload):
    name = "curate"

    def setup(self) -> None:
        self.dir = self.run.sub("curate", "input")
        self.sizes = write_permuted(self.seed, self.dir)
        self.sizes["input_bytes"] = sum(
            os.path.getsize(os.path.join(self.dir, f"{t}.parquet")) for t in TABLES)
        # read the landed tables back through the session, as the
        # other workload's set-up lands its inputs through it
        for t in TABLES:
            n = self.spark.read.parquet(os.path.join(self.dir, f"{t}.parquet")).count()
            if n != self.sizes[t]:
                raise RuntimeError(f"{t}: session reads {n} rows, {self.sizes[t]} written")
        self.want = None

    def reference(self) -> dict:
        """Each op's canonical reference answer, computed on first use:
        the DuckDB twin's result, or for an op without a twin a second
        evaluation of the op itself, which every pass must then equal."""
        if self.want is None:
            self.want = twin_answers(self.dir)
            for op in CURATE_OPS:
                if op not in self.want:
                    self.want[op] = ref.canon_frame(
                        registry().SPARK_QUERIES[op](self.spark, self.dir).toPandas())
        return self.want

    def input_sizes(self) -> dict:
        return dict(self.sizes)

    def _collect(self, op: str, tracer):
        fn = registry().SPARK_QUERIES[op]
        layer = fn.__module__.rsplit(".", 1)[-1]
        with tracer.span(f"{layer}.{op}.result") as sp:
            t0 = time.monotonic()
            pdf = fn(self.spark, self.dir).toPandas()
            return pdf, time.monotonic() - t0, sp

    def op(self, i: int, tracer) -> OpResult:
        before = storage(self.spark)
        frames, op_s, op_spans = {}, {}, {}
        with tracer.span("op.curate") as root:
            t0 = time.monotonic()
            for op in CURATE_OPS:
                frames[op], op_s[op], op_spans[op] = self._collect(op, tracer)
            wall = time.monotonic() - t0
        after = storage(self.spark)
        return OpResult(wall, units=len(CURATE_OPS), span=root, data={
            "frames": frames, "op_s": op_s, "op_spans": op_spans,
            "held_bytes": after[0] - before[0], "blocks": after[1] - before[1],
            "rdd_bytes": after[2],
        })

    def check(self, res: OpResult) -> list[str]:
        frames = res.data.pop("frames")
        res.data["rows_out"] = {op: len(f) for op, f in frames.items()}
        return check_pass(frames, self.reference())

    def summary(self, results: list[OpResult]) -> dict:
        return {
            "curate_pass_s": median([r.wall for r in results]),
            "held_storage_mb": median([r.data["held_bytes"] for r in results]) / 1e6,
        }

    def layers(self, prof, results: list[OpResult]) -> dict:
        log = prof.log
        n = len(results)
        out = {}
        for op in CURATE_OPS:
            spans = [r.data["op_spans"][op] for r in results]
            jobs = [j for s in spans for j in prof.jobs_under(s)]
            out.update({
                f"curate.{op}_s": median([r.data["op_s"][op] for r in results]),
                f"curate.{op}_jobs": len(jobs) / n,
                f"curate.{op}_shuffle_bytes": log.task_sum(jobs, "shuffle_bytes") / n,
                f"curate.{op}_rows_out": median([r.data["rows_out"][op] for r in results]),
            })
        roots = [r.span for r in results]
        cps = spans_named(prof, roots, "checkpoint.localCheckpoint")
        cp_bytes = 0
        for r in results:
            held = r.data["rdd_bytes"]
            cp_bytes += sum(held.get(s.attrs.get("rdd"), 0)
                            for s in spans_named(prof, [r.span], "checkpoint.localCheckpoint"))
        out.update({
            "checkpoint.count": len(cps) / n,
            "checkpoint.bytes": cp_bytes / n,
            "storage.unreleased_blocks": median([r.data["blocks"] for r in results]),
            **spark_layers(prof, results, self.cores),
        })
        return out
