from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))


@pytest.fixture(scope="session")
def spark_run():
    from e2e_bench import env

    env.require_program()
    run = env.RunDir()
    spark = env.start_spark(run, 2)
    yield spark, run
    env.stop_processes()
    run.close()
