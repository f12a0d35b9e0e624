"""The benchmark's own checks, run by `python3 perfbench/run.py --selftest`.

1. Each checker rejects a deliberately corrupted output (one row dropped,
   one count changed): the Scala checkers for stream_events (SelfTest.scala)
   and the DuckDB comparison for batch_registry (below).
2. The same seed gives the same event digest and a different seed a
   different one, for both generators (SelfTest.scala).
3. The metric names the workloads print match BENCHMARK.json: a short
   traced and untraced run of each workload must between them produce
   exactly the listed names.
Exit status 0 when every check passes.
"""
import duckdb

import oracle

WORKLOADS = ("stream_events", "batch_registry")


def oracle_selftest():
    con = duckdb.connect()
    def rel(rows):
        return "SELECT * FROM (VALUES " + ", ".join(rows) + ") t(k, s, x)"
    want = rel(["(1, 'a', 2.5::DOUBLE)", "(2, 'b', 3.0::DOUBLE)", "(3, 'c', 0.1::DOUBLE)"])
    cases = {
        "identical": (want, True),
        "reordered rows": (rel(["(3, 'c', 0.1::DOUBLE)", "(1, 'a', 2.5::DOUBLE)", "(2, 'b', 3.0::DOUBLE)"]), True),
        "sum-order rounding": (rel(["(1, 'a', 2.5::DOUBLE)", "(2, 'b', 3.0::DOUBLE)", "(3, 'c', 0.1::DOUBLE + 1e-16::DOUBLE)"]), True),
        "one row dropped": (rel(["(1, 'a', 2.5::DOUBLE)", "(3, 'c', 0.1::DOUBLE)"]), False),
        "one count changed": (rel(["(1, 'a', 2.5::DOUBLE)", "(2, 'b', 3.0::DOUBLE)", "(4, 'c', 0.1::DOUBLE)"]), False),
        "one value changed": (rel(["(1, 'a', 2.5::DOUBLE)", "(2, 'b', 3.5::DOUBLE)", "(3, 'c', 0.1::DOUBLE)"]), False),
    }
    errors = []
    for what, (got, should_match) in cases.items():
        matched = oracle.compare("t", con.sql(got), con.sql(want)) is None
        if matched != should_match:
            errors.append(f"oracle compare, {what}: matched={matched}")
    return errors


def main(spec, run):
    """`run(workload, seed, seconds, trace, cores)` runs one harness JVM."""
    errors = []
    out = run("selftest", 1, 0, 0, 4)
    if out is None:
        errors.append("Scala self-test JVM failed")
    else:
        errors += out["errors"]
    errors += oracle_selftest()

    e2e_names = {m["name"] for m in spec["end_to_end"]}
    layer_names = {m["name"] for m in spec["per_layer"]}
    produced = set()
    for wl in WORKLOADS:
        for trace in (0, 1):
            out = run(wl, 7, 2, trace, 4)
            if out is None:
                errors.append(f"{wl} trace={trace}: no result")
                continue
            if not out["correct"]:
                errors.append(f"{wl} trace={trace}: outputs mismatched: {out['errors']}")
            if set(out["e2e"]) != e2e_names:
                errors.append(f"{wl}: end-to-end names {sorted(out['e2e'])} != BENCHMARK.json")
            if trace:
                extra = set(out["layer"]) - layer_names
                if extra:
                    errors.append(f"{wl}: per-layer names not in BENCHMARK.json: {sorted(extra)}")
                produced |= set(out["layer"])
    missing = layer_names - produced
    if missing:
        errors.append(f"per-layer names no workload produces: {sorted(missing)}")

    for e in errors:
        print("SELFTEST FAIL " + e)
    print("selftest: " + ("ok" if not errors else f"{len(errors)} failures"))
    return 0 if not errors else 1
