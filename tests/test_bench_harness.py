"""bench.py runs every name in BENCH_QUERIES through contract.QUERIES; a
renamed or removed query must fail here, not inside the bench run."""

import importlib.util
import os

from ocr_spark import contract


def test_bench_queries_are_contract_queries():
    path = os.path.join(os.path.dirname(__file__), "..", "bench.py")
    spec = importlib.util.spec_from_file_location("bench", path)
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)  # defines main() without calling it
    assert set(bench.BENCH_QUERIES) <= set(contract.QUERIES)
