"""Self-test of the benchmark's output checks: each check must pass on
a correct output and fail on a deliberately corrupted one.

Runs without Spark: correct outputs are written serially with the same
layout and columns the program writes, from small seeded inputs.

    python3 e2ebench/selftest.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _extract_table(wl):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from inxs_spark.plans.extract_pipeline import SPAN_TYPE
    from e2ebench.workloads import _serial

    src = pq.read_table(wl.input, columns=["conv_id", "turn_idx", "text"])
    rows = [_serial(t) for t in src.column("text").to_pylist()]
    return pa.table({
        "conv_id": src.column("conv_id"),
        "turn_idx": src.column("turn_idx"),
        "extracted_text": pa.array([r[0] for r in rows], pa.string()),
        "spans": pa.array([[{"start": s, "end": e, "path": p} for s, e, p in r[1]]
                           for r in rows], SPAN_TYPE),
        "failure": pa.array([r[2] for r in rows], pa.string()),
    })


def _replace(table, column: str, row: int, value):
    import pyarrow as pa

    values = table.column(column).to_pylist()
    values[row] = value
    idx = table.schema.get_field_index(column)
    return table.set_column(idx, column, pa.array(values, table.schema.field(column).type))


def _cases(name: str, wl, out: str):
    """(label, writer) pairs; each writer writes one output into ``out``."""
    import pyarrow.parquet as pq

    def write(table, sub=""):
        os.makedirs(os.path.join(out, sub), exist_ok=True)
        pq.write_table(table, os.path.join(out, sub, "part-00000.parquet"))

    if name in ("extract_unique", "extract_templated"):
        sub = os.path.join("extracted", "chunk=0") if name == "extract_unique" else ""
        good = _extract_table(wl).sort_by([("conv_id", "ascending"),
                                           ("turn_idx", "ascending")])
        row = wl.sample[0] if name == "extract_unique" else good.num_rows // 2
        spans = good.column("spans")[row].as_py() or []
        yield "correct", lambda: write(good, sub), False
        yield "text changed", lambda: write(
            _replace(good, "extracted_text", row, "corrupted"), sub), True
        yield "spans changed", lambda: write(
            _replace(good, "spans", row, spans + [{"start": 0, "end": 1, "path": "/x"}]),
            sub), True
        yield "row dropped", lambda: write(good.slice(1), sub), True
        return

    import pyarrow as pa

    survivors = wl.truth["survivors"]
    ids = sorted(survivors, key=int)
    good = pa.table({
        "doc_id": pa.array([int(i) for i in ids], pa.int64()),
        "text": [survivors[i][1] for i in ids],
        "lang_pred": [survivors[i][0] for i in ids],
    })
    counts = dict(wl.truth["stage_counts"])

    def with_stats(table, stats):
        def go():
            wl.stats = stats
            write(table)
        return go

    yield "correct", with_stats(good, counts), False
    yield "text changed", with_stats(_replace(good, "text", 3, "x"), counts), True
    yield "survivor dropped", with_stats(good.slice(1), counts), True
    yield "stage count off", with_stats(
        good, {**counts, "after_near_dup_prune": counts["after_near_dup_prune"] + 1}), True


def main() -> int:
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    from e2ebench.workloads import WORKLOADS

    sizes = {"extract_unique": 3_000, "extract_templated": 5_000, "curate_corpus": 2_000}
    problems = []
    cache = os.path.join(ROOT, ".bench_cache")
    os.makedirs(cache, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="selftest-", dir=cache)
    out = os.path.join(scratch, "out")
    try:
        for name, size in sizes.items():
            wl = WORKLOADS[name](os.path.join(scratch, "inputs"), seed=7, size=size)
            wl.prepare()
            for label, writer, must_fail in _cases(name, wl, out):
                shutil.rmtree(out, ignore_errors=True)
                writer()
                failed = wl.check(out)
                ok = (failed > 0) == must_fail
                print(f"{name:18s} {label:18s} failed rows {failed:3d} "
                      f"{'ok' if ok else 'WRONG'}")
                if not ok:
                    problems.append(f"{name}: {label}")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if problems:
        print("check self-test FAILED: " + "; ".join(problems))
        return 1
    print("check self-test passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
