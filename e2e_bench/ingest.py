"""The bulk-write step: a full ``pipeline.run_extraction_pipeline`` over
a snapshot into a fresh warehouse, its check against the generator's
planted goldens, and the ``pipeline``/``scale`` per-layer figures."""

from __future__ import annotations

import os
from statistics import median

from . import reference as ref
from .workload import spans_named

DERIVED = ("conv_rollup", "tokens", "doc_lengths", "corpus_stats")


def check_warehouse(wh: str, rows_by_key: dict, goldens: dict) -> tuple[list[str], int]:
    """Check one committed warehouse against the planted goldens.

    Returns (failures, number of turns whose text equals the golden).
    A turn whose text differs from the golden must still equal the
    single-node oracle on that turn (distributed == single-node); such
    a turn only lowers the text-equality rate."""
    from amazon_textract_enhancer_spark import oracle

    errs: list[str] = []
    n = len(rows_by_key)
    m_rows = ref.read_manifest(wh, "extracted_spans")["rows"]
    if m_rows != n:
        errs.append(f"extracted_spans manifest rows {m_rows} != {n} input turns")
    spans = ref.read_parquet_dir(
        os.path.join(wh, "extracted_spans", "data"),
        ["conv_id", "turn_idx", "extracted_text", "tables", "forms"],
    ).to_pylist()
    seen: set = set()
    n_equal = 0
    n_tokens = 0
    n_docs = 0
    for s in spans:
        key = (s["conv_id"], s["turn_idx"])
        g = goldens.get(key)
        if g is None or key in seen:
            errs.append(f"unexpected or duplicate span row {key}")
            continue
        seen.add(key)
        toks = len(ref.tokens(s["extracted_text"]))
        n_tokens += toks
        n_docs += toks > 0
        if s["extracted_text"] == g["text"]:
            n_equal += 1
        else:
            want = oracle.extract_rows([rows_by_key[key]])[0]["extracted_text"]
            if s["extracted_text"] != want:
                errs.append(f"{key}: extracted_text equals neither golden nor oracle")
        got_t = [(t["page"], t["n_rows"], t["n_cols"], t["csv"]) for t in s["tables"] or []]
        want_t = [(t["page"], t["n_rows"], t["n_cols"], ref.render_csv(t["rows"]))
                  for t in g["tables"]]
        if got_t != want_t:
            errs.append(f"{key}: tables differ from the planted grids")
        got_f = sorted((f["key"], f["value"], f["page"]) for f in s["forms"] or [])
        want_f = sorted((f["key"], f["value"], f["page"]) for f in g["forms"])
        if got_f != want_f:
            errs.append(f"{key}: forms differ from the planted pairs")
    if len(seen) != n:
        errs.append(f"{n - len(seen)} input turns have no span row")

    rollup = ref.read_parquet_dir(os.path.join(wh, "conv_rollup", "data"), ["n_turns"])
    if sum(rollup.column("n_turns").to_pylist()) != n:
        errs.append("conv_rollup n_turns does not sum to the input turns")
    stats = ref.read_parquet_dir(os.path.join(wh, "corpus_stats", "data")).to_pylist()
    if len(stats) != 1 or stats[0]["n_docs"] != n_docs:
        errs.append(f"corpus_stats {stats} != {n_docs} turns with tokens")
    tf = sum(ref.read_parquet_dir(os.path.join(wh, "tokens", "data"), ["tf"])
             .column("tf").to_pylist())
    dl = sum(ref.read_parquet_dir(os.path.join(wh, "doc_lengths", "data"), ["dl"])
             .column("dl").to_pylist())
    if not tf == dl == n_tokens:
        errs.append(f"sum(tf)={tf}, sum(dl)={dl}, reference tokens={n_tokens}")
    return errs, n_equal


def pipeline_layers(prof, pipeline_spans: list) -> dict:
    """Stage 1 (extraction + bucketed commit) and the derived level
    (rollup, tokens, doc_lengths + corpus_stats, run concurrently) of
    each traced pipeline run."""
    stage1, level, overlap, rollup = [], [], [], []
    for p in pipeline_spans:
        mine = spans_named(prof, [p], "tableio.commit_stage")
        first = [s for s in mine if s.attrs["table"] == "extracted_spans"]
        derived = [s for s in mine if s.attrs["table"] in DERIVED]
        if first:
            stage1.append(first[0].t1 - p.t0)
        if derived:
            w = max(s.t1 for s in derived) - min(s.t0 for s in derived)
            level.append(w)
            overlap.append(sum(s.dur for s in derived) / w if w else 0.0)
        rollup += [s.dur for s in mine if s.attrs["table"] == "conv_rollup"]
    return {
        "pipeline.stage1_s": median(stage1),
        "pipeline.derived_level_s": median(level),
        "pipeline.derived_overlap": median(overlap),
        "scale.rollup_s": median(rollup),
    }
