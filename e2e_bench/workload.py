"""What every workload provides, and the per-layer metrics all of them
share (Spark totals and trace quality)."""

from __future__ import annotations

from dataclasses import dataclass, field

from .trace import SPAN_LAYERS


@dataclass
class OpResult:
    """One timed operation: its wall, how many checked units it held,
    and whatever the check needs."""

    wall: float
    units: int = 1
    span: object = None
    data: dict = field(default_factory=dict)


class Workload:
    name = ""

    def __init__(self, spark, seed: int, run, cores: int) -> None:
        self.spark = spark
        self.seed = seed
        self.run = run
        self.cores = cores

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int, tracer) -> OpResult:
        raise NotImplementedError

    def check(self, res: OpResult) -> list[str]:
        """Failure messages, one per failed unit."""
        raise NotImplementedError

    def summary(self, results: list[OpResult]) -> dict:
        """The workload's own user-visible figures (untraced)."""
        return {}

    def layers(self, prof, results: list[OpResult]) -> dict:
        """Per-layer metrics from a traced phase."""
        return {}

    def input_sizes(self) -> dict:
        return {}


def spark_layers(prof, results: list[OpResult], cores: int) -> dict:
    """Spark totals per op over the jobs charged to each op's spans,
    and the trace's own quality figures."""
    log = prof.log
    n = max(1, len(results))
    jobs = [j for r in results for j in prof.jobs_under(r.span)]
    run_s = log.task_sum(jobs, "run_s")
    wall = sum(r.wall for r in results)
    excl = [prof.tracer.exclusive_by_layer(r.span) for r in results]
    unknown = {k for e in excl for k in e} - {"_root", *SPAN_LAYERS}
    if unknown:
        raise RuntimeError(f"spans charged to undeclared layers: {sorted(unknown)}")
    self_s = {layer: sum(e.get(layer, 0.0) for e in excl) / n for layer in SPAN_LAYERS}
    return {
        "spark.jobs": len(jobs) / n,
        "spark.tasks": log.n_tasks(jobs) / n,
        "spark.executor_cpu_s": log.task_sum(jobs, "cpu_s") / n,
        "spark.gc_s": log.task_sum(jobs, "gc_s") / n,
        "spark.shuffle_fetch_wait_s": log.task_sum(jobs, "fetch_wait_s") / n,
        "spark.spill_bytes": log.task_sum(jobs, "spill_bytes") / n,
        "spark.idle_slot_frac": 1.0 - run_s / (wall * cores) if wall else 0.0,
        **{f"self.{layer}_s": v for layer, v in self_s.items()},
        "trace.unattributed_jobs": float(len(prof.unattributed)),
        # op wall not inside a call into one of the layers
        "trace.unaccounted_frac": 1.0 - sum(self_s.values()) / (wall / n) if wall else 0.0,
    }


def spans_named(prof, roots, name: str) -> list:
    return [s for r in roots for s in prof.tracer.descendants(r) if s.name == name]


def write_path_layers(prof, roots, n: int) -> dict:
    """``stages`` (the Python extraction boundary) and ``tableio``
    (commits and table reads) per op."""
    log = prof.log
    jobs = [j for r in roots for j in prof.jobs_under(r)]
    commits = spans_named(prof, roots, "tableio.commit_stage")
    commit_jobs = [j for s in commits for j in prof.jobs_under(s)]
    return {
        "stages.python_worker_s": log.sql_sum(jobs, "time to run Python workers", True) / n,
        "stages.bytes_to_python": log.sql_sum(jobs, "data sent to Python workers") / n,
        "stages.bytes_from_python": log.sql_sum(jobs, "data returned from Python workers") / n,
        "stages.turns": log.python_rows(jobs) / n,
        "tableio.commits": len(commits) / n,
        "tableio.commit_s": sum(s.dur for s in commits) / n,
        "tableio.jobs_per_commit": len(commit_jobs) / max(1, len(commits)),
        "tableio.bytes_written": log.task_sum(commit_jobs, "bytes_written") / n,
        "tableio.read_table_s": sum(
            s.dur for s in spans_named(prof, roots, "tableio.read_table")) / n,
    }
