"""ingest_refresh_serve: one op is the life of a warehouse over two
seeded snapshots, each step timed:

1. bootstrap: snapshot v0 through ``streaming.incremental_extract_with_index``
   into an empty warehouse, then ``index_maintenance.compact_serving_index``
   folds it into the main index (the bulk write of the refresh path);
2. refresh: snapshot v1, in which about 5% of the conversations have one
   turn edited or appended and a few are added or deleted, through the
   same call, leaving main plus one delta;
3. serve: a seeded request burst from two closed-loop clients over the
   merged main+delta tables;
4. rebuild: ``pipeline.run_extraction_pipeline`` from scratch over v1 into
   a second warehouse, the bulk extraction path, whose output is also
   the reference the refresh is checked against.

Every op starts from empty warehouses, so no figure drifts with run
length.
"""

from __future__ import annotations

import importlib
import math
import os
import random
import shutil
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from statistics import median

from . import reference as ref
from .corpus import make_corpus, write_transcripts
from .ingest import check_warehouse, pipeline_layers
from .workload import OpResult, Workload, spans_named, spark_layers, write_path_layers

PKG = "amazon_textract_enhancer_spark"
N_TURNS = 3_000
WHALE_CAP = 200
N_ADDED, N_DELETED = 3, 2
ADDED_TURNS = 10
# No recorded traffic exists for this program, so the burst is an
# assumption: the request types in turn, each the same number of times.
KINDS = ("point_lookup", "c3_fetch_table", "c4_fetch_form_value",
         "c5_search_tokens_indexed", "c5_search_bm25_indexed")
N_REQUESTS = 4 * len(KINDS)
CLIENTS = 2
LOOKUPS = {"point_lookup", "c3_fetch_table", "c4_fetch_form_value"}


def _mod(name: str):
    """Program module looked up at call time, so traced runs call the
    wrapped functions."""
    return importlib.import_module(f"{PKG}.{name}")


def make_snapshots(seed: int, n_turns: int = N_TURNS) -> dict:
    """v0, v1 and what v1 planted: edited, appended, added, deleted."""
    from amazon_textract_enhancer_spark.fixtures import generate_conversation

    v0, g0 = make_corpus(seed, n_turns, WHALE_CAP)
    rng = random.Random(f"{seed}|v1")
    by_conv: dict[str, list[dict]] = {}
    for r in v0:
        by_conv.setdefault(r["conv_id"], []).append(r)
    convs = sorted(by_conv)
    n_change = max(2, round(0.05 * len(convs)))
    picked = rng.sample(convs, n_change + N_DELETED)
    edited = picked[: n_change // 2 + n_change % 2]
    appended = picked[len(edited): n_change]
    deleted = set(picked[n_change:])

    def fresh_payload(tag: str) -> tuple[str, dict]:
        rows, goldens = generate_conversation(random.Random(f"{seed}|{tag}"), 0, 1.0, 1)
        return rows[0]["text"], goldens[0]

    goldens = {k: v for k, v in g0.items() if k[0] not in deleted}
    v1 = [dict(r) for r in v0 if r["conv_id"] not in deleted]
    index = {(r["conv_id"], r["turn_idx"]): r for r in v1}
    for cid in edited:
        turn = rng.randrange(len(by_conv[cid]))
        text, g = fresh_payload(f"edit|{cid}")
        index[(cid, turn)]["text"] = text
        goldens[(cid, turn)] = g
    for cid in appended:
        last = max(by_conv[cid], key=lambda r: r["turn_idx"])
        text, g = fresh_payload(f"append|{cid}")
        row = dict(last, turn_idx=last["turn_idx"] + 1, text=text)
        v1.append(row)
        goldens[(cid, row["turn_idx"])] = g
    added_rows = []
    for j in range(N_ADDED):
        rows, gs = generate_conversation(random.Random(f"{seed}|add|{j}"), 10**6 + j, 1.0,
                                         ADDED_TURNS)
        added_rows += rows
        goldens.update({(g["conv_id"], g["turn_idx"]): g for g in gs})
    v1 += added_rows
    rng.shuffle(v1)
    added = sorted({r["conv_id"] for r in added_rows})
    changed = set(edited) | set(appended) | set(added)
    return {
        "v0": v0, "v1": v1, "goldens": goldens,
        "changed": sorted(changed), "deleted": sorted(deleted),
        "changed_turns": sum(1 for r in v1 if r["conv_id"] in changed),
    }


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def make_requests(rng: random.Random, snap: dict, term_weights: Counter) -> list[tuple]:
    """A seeded burst that cycles through the request types: point
    lookups alternate between changed and unchanged conversations;
    search terms are drawn by corpus frequency."""
    changed = snap["changed"]
    unchanged = sorted({k[0] for k in snap["goldens"]} - set(changed))
    with_tables = sorted(k for k, g in snap["goldens"].items() if g["tables"])
    with_forms = sorted((k[0], f["key"]) for k, g in snap["goldens"].items() for f in g["forms"])
    terms, weights = zip(*sorted(term_weights.items()))
    out = []
    for i in range(N_REQUESTS):
        kind = KINDS[i % len(KINDS)]
        if kind == "point_lookup":
            out.append((kind, rng.choice(changed if i // len(KINDS) % 2 else unchanged)))
        elif kind == "c3_fetch_table":
            out.append((kind, *rng.choice(with_tables)))
        elif kind == "c4_fetch_form_value":
            out.append((kind, *rng.choice(with_forms)))
        else:
            out.append((kind, tuple(sorted(set(rng.choices(terms, weights, k=rng.randint(1, 3)))))))
    return out


class Serving:
    """The Spark side of a burst: the merged views and one builder per
    request kind."""

    def __init__(self, spark, wh: str) -> None:
        from pyspark.sql import functions as F

        tio = _mod("sources.tableio")
        im = _mod("operators.index_maintenance")
        io = tio.TableIO(wh)
        self.spark = spark
        self.spans = io.read_table(spark, "extracted_spans")
        self.tokens = im.read_tokens_merged(spark, io)
        self.dl = im.read_doc_lengths_merged(spark, io)
        st = self.dl.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("a")).collect()[0]
        self.n_docs, self.avgdl = int(st["n"]), float(st["a"])
        _mod("operators.serving").register_serving_views(spark, self.spans)

    def answer(self, req: tuple) -> list[tuple]:
        sv = _mod("operators.serving")
        kind = req[0]
        if kind == "point_lookup":
            df = sv.run_serving_query(self.spark, "point_lookup", conv_id=req[1])
        elif kind == "c3_fetch_table":
            df = sv.c3_fetch_table(self.spans, req[1], req[2], 1)
        elif kind == "c4_fetch_form_value":
            df = sv.c4_fetch_form_value(self.spans, req[1], req[2])
        elif kind == "c5_search_tokens_indexed":
            df = sv.c5_search_tokens_indexed(self.tokens, req[1])
        else:
            df = sv.c5_search_bm25_indexed(self.tokens, self.dl, self.n_docs, self.avgdl, req[1])
        return [tuple(r) for r in df.collect()]


def burst(serving: Serving, requests: list[tuple], tracer) -> tuple[list, float]:
    """CLIENTS closed-loop clients: each sends its next request when the
    previous answer arrives. Returns [(request, answer, latency_s)] in
    request order and the burst wall. A request that raises keeps its
    latency and has the exception as its answer."""
    def one(r: tuple) -> tuple:
        with tracer.span("serving.request", kind=r[0]):
            t0 = time.monotonic()
            try:
                ans = serving.answer(r)
            except Exception as e:  # the check counts it as a failed request
                ans = e
            return r, ans, time.monotonic() - t0

    t0 = time.monotonic()
    with ThreadPoolExecutor(CLIENTS) as pool:
        out = list(pool.map(one, requests))
    return out, time.monotonic() - t0


class DuckRef:
    """Answers over the committed parquet of one warehouse, with the
    stale list applied to the main index."""

    def __init__(self, wh: str) -> None:
        t = {n: ref.table_glob(wh, n) for n in (
            "extracted_spans", "tokens", "tokens_delta", "doc_lengths",
            "doc_lengths_delta", "index_stale_convs")}
        self.con = ref.duck({
            "spans": t["extracted_spans"], "tok_main": t["tokens"],
            "tok_delta": t["tokens_delta"], "dl_main": t["doc_lengths"],
            "dl_delta": t["doc_lengths_delta"], "stale": t["index_stale_convs"],
        })
        self.con.execute("""
            CREATE VIEW tok AS
            SELECT conv_id, turn_idx, term, tf FROM tok_main
             WHERE conv_id NOT IN (SELECT conv_id FROM stale)
            UNION ALL SELECT conv_id, turn_idx, term, tf FROM tok_delta""")
        self.con.execute("""
            CREATE VIEW dl AS
            SELECT conv_id, turn_idx, dl FROM dl_main
             WHERE conv_id NOT IN (SELECT conv_id FROM stale)
            UNION ALL SELECT conv_id, turn_idx, dl FROM dl_delta""")

    def rows(self, sql: str, params=()) -> list[tuple]:
        return [tuple(r) for r in self.con.execute(sql, list(params)).fetchall()]

    def answer(self, req: tuple, avgdl: float) -> list[tuple]:
        kind = req[0]
        if kind == "point_lookup":
            return self.rows("SELECT conv_id, turn_idx, kind, extracted_text FROM spans "
                             "WHERE conv_id = ? ORDER BY turn_idx", req[1:])
        if kind == "c3_fetch_table":
            return self.rows(
                "SELECT conv_id, turn_idx, 1, tables[1].n_rows, tables[1].n_cols, "
                "tables[1].csv FROM spans WHERE conv_id = ? AND turn_idx = ? "
                "AND len(tables) >= 1 AND tables[1].csv IS NOT NULL", req[1:])
        if kind == "c4_fetch_form_value":
            return self.rows(
                "SELECT conv_id, turn_idx, f.key, f.value, f.selection FROM "
                "(SELECT conv_id, turn_idx, unnest(forms) AS f FROM spans WHERE conv_id = ?) "
                "WHERE lower(trim(f.key)) = lower(trim(?))", req[1:])
        terms = list(req[1])
        if kind == "c5_search_tokens_indexed":
            return self.rows(
                "SELECT conv_id, turn_idx, CAST(sum(tf) AS BIGINT) AS score FROM tok "
                "WHERE list_contains(?, term) GROUP BY 1, 2 "
                "ORDER BY score DESC, conv_id, turn_idx LIMIT 10", [terms])
        n_docs = self.rows("SELECT count(*) FROM dl")[0][0]
        # the expression shape of the program's own BM25 DuckDB twin
        return self.rows("""
            WITH hits AS (SELECT * FROM tok WHERE list_contains(?, term)),
            idf AS (SELECT term, ln((? - count(*) + 0.5) / (count(*) + 0.5) + 1.0) AS idf
                    FROM hits GROUP BY term)
            SELECT h.conv_id, h.turn_idx,
                   round(sum(i.idf * (h.tf * 2.2)
                       / (h.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / ?))), 4) AS score
            FROM hits h JOIN idf i USING (term) JOIN dl d USING (conv_id, turn_idx)
            GROUP BY 1, 2 ORDER BY score DESC, h.conv_id, h.turn_idx LIMIT 10""",
            [terms, n_docs, avgdl])

    def merged_stats(self) -> tuple[int, float]:
        return tuple(self.rows("SELECT count(*), avg(dl) FROM dl")[0])

    def differs(self, other_wh: str) -> dict[str, int]:
        """Rows in one side but not the other, per table, against the
        from-scratch warehouse ``other_wh``."""
        self.con.execute(f"CREATE OR REPLACE VIEW r_spans AS SELECT * FROM read_parquet("
                         f"'{ref.table_glob(other_wh, 'extracted_spans')}')")
        self.con.execute(f"CREATE OR REPLACE VIEW r_tok AS SELECT * FROM read_parquet("
                         f"'{ref.table_glob(other_wh, 'tokens')}')")
        self.con.execute(f"CREATE OR REPLACE VIEW r_dl AS SELECT * FROM read_parquet("
                         f"'{ref.table_glob(other_wh, 'doc_lengths')}')")
        cols = {
            "spans": ("spans", "r_spans", "conv_id, turn_idx, kind, extracted_text, tables, forms"),
            "tokens": ("tok", "r_tok", "conv_id, turn_idx, term, tf"),
            "doc_lengths": ("dl", "r_dl", "conv_id, turn_idx, dl"),
        }
        out = {}
        for name, (a, b, c) in cols.items():
            n = 0
            for x, y in ((a, b), (b, a)):
                n += self.rows(f"SELECT count(*) FROM (SELECT {c} FROM {x} "
                               f"EXCEPT ALL SELECT {c} FROM {y})")[0][0]
            out[name] = n
        return out

    def close(self) -> None:
        self.con.close()


def canon_answer(req: tuple, rows: list[tuple]):
    """Lookups and the tf-sum search compare exactly (the latter in
    rank order); c4 answers have no order; BM25 compares as a sorted
    set of rows with floats rounded like the oracle-parity suite."""
    if req[0] == "c4_fetch_form_value":
        return sorted(rows)
    if req[0] == "c5_search_bm25_indexed":
        return sorted(tuple(ref.canon_cell(v) for v in r) for r in rows)
    return rows


def check_op(wh: str, ref_wh: str, planted: int, changed_convs: int,
             answers: list, avgdl: float, n_docs: int) -> tuple[list[str], list[str]]:
    """(refresh failures, request failures) of one op."""
    d = DuckRef(wh)
    try:
        refresh_errs = []
        if changed_convs != planted:
            refresh_errs.append(f"changed_convs {changed_convs} != {planted} planted")
        diff = d.differs(ref_wh)
        if any(diff.values()):
            refresh_errs.append(f"merged tables differ from a from-scratch run: {diff}")
        want_n, want_avg = d.merged_stats()
        if want_n != n_docs or abs(want_avg - avgdl) > 1e-9 * max(1.0, abs(want_avg)):
            refresh_errs.append(f"merged corpus stats ({n_docs}, {avgdl}) != ({want_n}, {want_avg})")
        req_errs = []
        for req, got, _lat in answers:
            if isinstance(got, Exception):
                req_errs.append(f"{req}: raised {got!r}")
                continue
            want = d.answer(req, avgdl)
            if canon_answer(req, got) != canon_answer(req, want):
                req_errs.append(f"{req}: {got[:3]} != {want[:3]}")
        return refresh_errs, req_errs
    finally:
        d.close()


class IngestRefreshServe(Workload):
    name = "ingest_refresh_serve"
    n_turns = N_TURNS

    def setup(self) -> None:
        from amazon_textract_enhancer_spark.schemas import TRANSCRIPT_SCHEMA

        self.schema = TRANSCRIPT_SCHEMA
        self.n_buckets = max(16, self.cores)
        self.snap = make_snapshots(self.seed, self.n_turns)
        self.rows_by_key = {(r["conv_id"], r["turn_idx"]): r for r in self.snap["v1"]}
        d = self.run.sub("lifecycle")
        self.v0_path = os.path.join(d, "v0")
        self.v1_path = os.path.join(d, "v1")
        self.v0_bytes = write_transcripts(self.spark, self.snap["v0"], self.v0_path)
        self.v1_bytes = write_transcripts(self.spark, self.snap["v1"], self.v1_path)
        self.terms = Counter(t for g in self.snap["goldens"].values() for t in ref.tokens(g["text"]))

    def input_sizes(self) -> dict:
        s = self.snap
        return {"v0_turns": len(s["v0"]), "v1_turns": len(s["v1"]),
                "v0_bytes": self.v0_bytes, "v1_bytes": self.v1_bytes,
                "changed_convs": len(s["changed"]), "deleted_convs": len(s["deleted"]),
                "changed_turns": s["changed_turns"], "requests_per_op": N_REQUESTS}

    def op(self, i: int, tracer) -> OpResult:
        out = os.path.join(self.run.path, "lifecycle")
        wh, rebuilt = os.path.join(out, "wh"), os.path.join(out, "rebuilt")
        for p in (wh, rebuilt):
            shutil.rmtree(p, ignore_errors=True)
        requests = make_requests(random.Random(f"{self.seed}|req|{i}"), self.snap, self.terms)
        v0 = self.spark.read.schema(self.schema).parquet(self.v0_path)
        v1 = self.spark.read.schema(self.schema).parquet(self.v1_path)
        streaming = _mod("streaming")
        with tracer.span("op.ingest_refresh_serve") as root:
            t0 = time.monotonic()
            res0 = streaming.incremental_extract_with_index(
                self.spark, v0, wh, n_buckets=self.n_buckets)
            _mod("operators.index_maintenance").compact_serving_index(
                self.spark, _mod("sources.tableio").TableIO(wh),
                res0["manifest"]["input_snapshot"], n_buckets=self.n_buckets)
            t1 = time.monotonic()
            res = streaming.incremental_extract_with_index(
                self.spark, v1, wh, n_buckets=self.n_buckets)
            t2 = time.monotonic()
            with tracer.span("index_maintenance.read_merged"):
                serving = Serving(self.spark, wh)
            answers, t_burst = burst(serving, requests, tracer)
            t3 = time.monotonic()
            _mod("pipeline").run_extraction_pipeline(self.spark, v1, rebuilt,
                                                     n_buckets=self.n_buckets)
            t4 = time.monotonic()
        return OpResult(t4 - t0, units=2 + len(requests), span=root, data={
            "wh": wh, "rebuilt": rebuilt, "bootstrap_s": t1 - t0, "refresh_s": t2 - t1,
            "burst_s": t_burst, "rebuild_s": t4 - t3, "answers": answers,
            "changed_convs": res["changed_convs"], "n_docs": serving.n_docs,
            "avgdl": serving.avgdl,
        })

    def check(self, res: OpResult) -> list[str]:
        d = res.data
        rebuild_errs, d["n_equal"] = check_warehouse(d["rebuilt"], self.rows_by_key,
                                                     self.snap["goldens"])
        refresh_errs, req_errs = check_op(
            d["wh"], d["rebuilt"], len(self.snap["changed"]),
            d["changed_convs"], d["answers"], d["avgdl"], d["n_docs"])
        io = _mod("sources.tableio").TableIO(d["wh"])
        d["delta_postings"] = io.read_manifest("tokens_delta")["rows"]
        d["stale_convs"] = io.read_manifest("index_stale_convs")["rows"]
        errs = [f"rebuild: {'; '.join(rebuild_errs[:3])} ({len(rebuild_errs)} problems)"
                ] if rebuild_errs else []
        errs += [f"refresh: {'; '.join(refresh_errs)}"] if refresh_errs else []
        return errs + req_errs

    def summary(self, results: list[OpResult]) -> dict:
        lat = {"lookup": [], "search": []}
        for r in results:
            for req, _ans, s in r.data["answers"]:
                lat["lookup" if req[0] in LOOKUPS else "search"].append(s * 1e3)
        n_req = sum(len(r.data["answers"]) for r in results)
        v1_turns = len(self.snap["v1"])
        return {
            "turns_per_s": v1_turns / median([r.data["rebuild_s"] for r in results]),
            "text_equal_rate": sum(r.data["n_equal"] for r in results)
            / (v1_turns * len(results)),
            "bootstrap_s": median([r.data["bootstrap_s"] for r in results]),
            "refresh_s": median([r.data["refresh_s"] for r in results]),
            "lookup_p50_ms": median(lat["lookup"]),
            "lookup_p90_ms": percentile(lat["lookup"], 90),
            "search_p50_ms": median(lat["search"]),
            "search_p90_ms": percentile(lat["search"], 90),
            "requests_per_s": n_req / sum(r.data["burst_s"] for r in results),
        }

    def layers(self, prof, results: list[OpResult]) -> dict:
        log = prof.log
        n = len(results)
        roots = [r.span for r in results]
        # the second incremental call of each op is the refresh (the
        # first bootstraps the empty warehouse)
        refresh = [sorted(spans_named(prof, [r], "streaming.incremental_extract_with_index"),
                          key=lambda s: s.t0)[-1] for r in roots]
        incr = spans_named(prof, refresh, "streaming.incremental_extract")
        fp = [s.dur - sum(c.dur for c in prof.tracer.descendants(s) if c.parent is s)
              for s in incr]
        refresh_jobs = [j for s in incr for j in prof.jobs_under(s)]
        commits = spans_named(prof, refresh, "tableio.commit_stage")
        spans_commit = [c for c in commits if c.attrs["table"] == "extracted_spans"]
        spans_bytes = log.task_sum([j for c in spans_commit for j in prof.jobs_under(c)],
                                   "bytes_written")
        all_bytes = log.task_sum([j for c in commits for j in prof.jobs_under(c)],
                                 "bytes_written")
        v1_turns = len(self.snap["v1"])
        changed_bytes = spans_bytes * self.snap["changed_turns"] / v1_turns
        reqs = spans_named(prof, roots, "serving.request")
        req_jobs = [j for s in reqs for j in prof.jobs_under(s)]
        return {
            **write_path_layers(prof, roots, n),
            **pipeline_layers(prof, spans_named(prof, roots, "pipeline.run_extraction_pipeline")),
            "streaming.fingerprint_s": median(fp),
            "streaming.changed_convs": median([r.data["changed_convs"] for r in results]),
            "streaming.reextract_share": log.python_rows(refresh_jobs) / n / v1_turns,
            "streaming.write_amplification": all_bytes / changed_bytes if changed_bytes else 0.0,
            "index_maintenance.refresh_s": median(
                [s.dur for s in spans_named(prof, refresh, "index_maintenance.refresh_serving_index")]),
            "index_maintenance.delta_postings": median([r.data["delta_postings"] for r in results]),
            "index_maintenance.stale_convs": median([r.data["stale_convs"] for r in results]),
            "index_maintenance.read_merged_s": median(
                [s.dur for s in spans_named(prof, roots, "index_maintenance.read_merged")]),
            "serving.jobs_per_request": len(req_jobs) / len(reqs),
            "serving.tasks_per_request": log.n_tasks(req_jobs) / len(reqs),
            "serving.files_read_per_request":
                log.driver_sum(req_jobs, "number of files read") / len(reqs),
            **spark_layers(prof, results, self.cores),
        }
