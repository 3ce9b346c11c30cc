#!/usr/bin/env python3
"""Self-test of the benchmark harness; needs no Spark run.

    python3 perfbench/selftest.py      (from the repository root)

Checks that
  - BENCHMARK.json names metrics the JVM side actually emits, and that
    every end_to_end/per_layer name appears in the benchmark's Scala sources;
  - the summary line stays within SUMMARY_MAX_BYTES with every
    end-to-end metric at a worst-case value width, and the summary
    refuses a result that lacks a metric;
  - the output check flags a deliberately wrong query output.
"""
import glob
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    spec = json.load(open("BENCHMARK.json"))
    scala = "".join(open(p).read() for p in glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    for kind in ("end_to_end", "per_layer"):
        for m in spec[kind]:
            assert f'"{m["name"]}"' in scala, f"{kind} metric {m['name']} is never emitted"
    for w in spec["workloads"]:
        assert w["name"] in run.WORKLOADS, f"workload {w['name']} unknown to run.py"

    # summary line: every end-to-end metric, names and units exact, bounded
    worst = -1234567.0123456789
    result = {"attempted": 10 ** 9, "failed": 10 ** 9,
              "end_to_end": {m["name"]: worst for m in spec["end_to_end"]},
              "per_layer": {m["name"]: worst for m in spec["per_layer"]}}
    line = run.summary(result, spec, trace=0)
    assert len(line.encode()) <= run.SUMMARY_MAX_BYTES, f"summary line is {len(line.encode())} bytes"
    parsed = json.loads(line)
    assert set(parsed) == {"correct", "attempted", "failed", "metrics"}
    assert [(k, v["unit"]) for k, v in parsed["metrics"].items()] == \
        [(m["name"], m["unit"]) for m in spec["end_to_end"]]
    assert set(json.loads(run.summary(result, spec, trace=1))["metrics"]) == \
        {m["name"] for m in spec["per_layer"]}
    for kind, trace in (("end_to_end", 0), ("per_layer", 1)):
        lacking = dict(result, **{kind: dict(list(result[kind].items())[1:])})
        try:
            run.summary(lacking, spec, trace)
        except SystemExit:
            pass
        else:
            raise AssertionError(f"summary accepted a result without {spec[kind][0]['name']}")

    # the output check: equal passes, a wrong value or a lost row fails
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    con = duckdb.connect()
    oracle = "SELECT * FROM (VALUES (1, 2.5, 'a'), (2, 0.1, 'b')) t(k, v, s)"
    with tempfile.TemporaryDirectory() as d:
        def wrote(rows):
            out = os.path.join(d, str(len(os.listdir(d))))
            os.makedirs(out)
            pq.write_table(pa.table({"s": [r[2] for r in rows], "k": [r[0] for r in rows],
                                     "v": [r[1] for r in rows]}), os.path.join(out, "part-0.parquet"))
            return out
        assert run.compare(con, wrote([(2, 0.1, "b"), (1, 2.5, "a")]), oracle) == ""
        assert run.compare(con, wrote([(2, 0.1, "b"), (1, 2.5000001, "a")]), oracle) != ""
        assert run.compare(con, wrote([(2, 0.1, "b")]), oracle) != ""
        assert run.compare(con, wrote([]), "") == "empty result"
    print(f"selftest ok: summary line {len(line.encode())} bytes <= {run.SUMMARY_MAX_BYTES}")


if __name__ == "__main__":
    main()
