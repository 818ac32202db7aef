"""Local replica of the driver's correctness gate.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))  # the checkout
sys.path.insert(0, ROOT)

from automated_agro_climatic_data_warehouse_spark.oracle import compare, duckdb_conn  # noqa: E402
from automated_agro_climatic_data_warehouse_spark.plans import QUERIES  # noqa: E402
from automated_agro_climatic_data_warehouse_spark.session import get_spark  # noqa: E402


def check(
    sf_dir: str,
    names: list[str] | None = None,
    single_con: bool = False,
) -> int:
    spark = get_spark("check")
    con = duckdb_conn(sf_dir)
    failed = []
    selected = names or list(QUERIES)
    unknown = [n for n in selected if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}; available: {sorted(QUERIES)}")
        return 1
    for qi, name in enumerate(selected):
        if not single_con and qi and qi % 50 == 0:
            # recycle the DuckDB connection every 50 queries: one
            # connection accumulates allocator state across hundreds of
            # heavy unrolled-CTE oracles and can hit a spurious
            # OutOfMemoryException late in a full-registry run (observed
            # once at query ~170 of 292 at sf0.1, query passes isolated).
            # The driver's own gate is 50 queries/round — this mirrors it.
            # RESOLVED r9: a full 370-query sf0.1 gate passed on ONE
            # connection with per-query cursor scope (--single-con) —
            # the accumulation lives in connection-local cursor state,
            # not the shared database instance, so cursor scoping is
            # the real fix and this recycle is belt-and-braces only.
            con.close()
            con = duckdb_conn(sf_dir)
        spec = QUERIES[name]
        t0 = time.time()
        try:
            if single_con:
                # --single-con: ONE connection for the whole run, each
                # query on its own cursor whose local allocator state is
                # released at close — the r8-verdict experiment for the
                # recycle crutch above.
                cur = con.cursor()
                try:
                    problems = compare(spark, spec, sf_dir, cur)
                finally:
                    cur.close()
            else:
                problems = compare(spark, spec, sf_dir, con)
        except Exception as e:  # noqa: BLE001
            problems = [f"error: {type(e).__name__}: {e}"]
        dt = time.time() - t0
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)[:400]}")
            failed.append(name)
        else:
            tag = "rows" if spec.oracle is None else "OK  "
            print(f"{tag}  {name} [{dt:.1f}s]")
    print(f"\n{len(selected) - len(failed)}/{len(selected)} passed")
    return 1 if failed else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    sf = next((a for a in args if "/" in a), "/root/testdata/sf0.01")
    single_con = "--single-con" in args
    qnames = [
        a
        for a in args
        if "/" not in a and a not in ("--first50", "--single-con")
    ] or None
    if "--first50" in args:
        # replicate the driver's verification window exactly: the first 50
        # entries of __spark_entry__.queries() in its priority ordering
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "__spark_entry__", os.path.join(ROOT, "__spark_entry__.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        qnames = list(mod.queries())[:50]
    raise SystemExit(check(sf, qnames, single_con=single_con))
