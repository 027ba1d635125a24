"""Seeded transcript corpora for the ingest and refresh workloads."""

from __future__ import annotations

import os
import random


def make_corpus(seed: int, n_turns: int, whale_cap: int) -> tuple[list[dict], dict]:
    """Exactly ``n_turns`` turns from the fixture generator's
    per-conversation kernel (the same rng stream as
    ``fixtures.generate_transcripts(seed, n_convs)``), conversations
    appended until the target is reached and the last one cut short.
    A fixed turn count keeps the work per op equal across seeds while
    the mix of payload kinds, table/form content and conversation
    lengths (up to ``whale_cap`` turns) varies with the seed.

    Returns (rows in seeded shuffled order, {(conv_id, turn_idx): golden})."""
    from amazon_textract_enhancer_spark.fixtures import generate_conversation

    rng = random.Random(seed)
    rows: list[dict] = []
    goldens: dict = {}
    i = 0
    while len(rows) < n_turns:
        r, g = generate_conversation(rng, i, 1.0, whale_cap, True)
        keep = min(len(r), n_turns - len(rows))
        rows.extend(r[:keep])
        for x in g[:keep]:
            goldens[(x["conv_id"], x["turn_idx"])] = x
        i += 1
    rng.shuffle(rows)
    return rows, goldens


def write_transcripts(spark, rows: list[dict], path: str) -> int:
    """Land the rows as a parquet table the way a producer would, through
    the session (Arrow conversion, then a parallel write); returns the
    bytes written."""
    from amazon_textract_enhancer_spark.fixtures import rows_to_pandas
    from amazon_textract_enhancer_spark.schemas import TRANSCRIPT_SCHEMA

    spark.createDataFrame(rows_to_pandas(rows), schema=TRANSCRIPT_SCHEMA) \
        .write.mode("overwrite").parquet(path)
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
               if f.endswith(".parquet"))
