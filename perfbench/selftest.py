"""The benchmark's self-test, run by `python3 perfbench/run.py --selftest`.

1. graft.perfbench.SelfTest: every output checker passes a good result
   and fails each corrupted one; then, at sf0.01 size, it writes the
   ingested metrics store and the corpus output next to the DuckDB oracle
   SQL of `etl_metrics` and `pipeline_corpus_full`.
2. Those two outputs must equal DuckDB's answer over the same generated
   tables, and a corrupted copy of each must not.
3. At sf0.001 size, every workload, untraced and traced, must emit every
   metric BENCHMARK.json names (and any extra ones) finite and with its
   unit, with every output check passing.

Prints one line per case and returns 0 only when all pass.
"""
import json
import math
import os

import inputs



def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def same(got, want):
    """Cell-exact equality after sorting columns by name and rows by value."""
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns) or len(g) != len(w):
        return False
    for c in g.columns:
        for a, b in zip(g[c].tolist(), w[c].tolist()):
            if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
                continue
            if a != b:
                return False
    return True


def oracle_cases(out, tables):
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t, d in tables.items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet/*.parquet'")
    sql = json.load(open(os.path.join(out, "oracle_sql.json")))
    cases = []
    for name, q in sorted(sql.items()):
        got = pd.read_parquet(os.path.join(out, name))
        want = con.execute(q).df()
        cases.append((f"{name} matches the DuckDB oracle ({len(got)} rows)",
                      len(got) > 0 and same(got, want)))
        bad = got.copy()
        col = sorted(bad.columns)[0]
        bad.loc[0, col] = bad.loc[len(bad) - 1, col] if len(bad) > 1 else None
        bad = bad.iloc[:-1] if len(bad) > 1 else bad
        cases.append((f"{name}: a corrupted copy fails the oracle compare",
                      not same(bad, want)))
    return cases


def metric_cases(java, work, root):
    """Every workload at sf0.001 size, untraced and traced."""
    spec = json.load(open("BENCHMARK.json"))
    sizes = {
        "marketing_serve": inputs.events_dir(root, 7, 1000)[0],
        "corpus_batch": inputs.documents_dir(root, 7, 500)[0],
        "corpus_arrival": inputs.arrivals_dir(root, 7, 200, 50)[0],
    }
    cases = []
    for w, data in sizes.items():
        for trace, kind in (("0", "end_to_end"), ("1", "per_layer")):
            code, out = java("graft.perfbench.Main", [
                "--workload", w, "--seed", "7", "--seconds", "1", "--trace", trace,
                "--input", data, "--warmup-input", data,
                "--work", os.path.join(work, f"m-{w}-{trace}"),
                "--out", os.path.join(work, "runs")])
            lines = [l for l in out.splitlines() if l.strip()]
            try:
                res = json.loads(lines[-1])
                metrics = res["metrics"]
            except (IndexError, ValueError, KeyError):
                cases.append((f"{w} trace={trace} printed a result", False))
                continue
            units = {m["name"]: m["unit"] for m in spec[kind]}
            bad = [n for n, u in units.items()
                   if not isinstance(metrics.get(n, {}).get("value"), (int, float))
                   or not math.isfinite(metrics[n]["value"]) or metrics[n].get("unit") != u]
            bad += [n for n, m in metrics.items() if n not in units and (
                not isinstance(m.get("value"), (int, float)) or not math.isfinite(m["value"])
                or not m.get("unit"))]
            cases.append((f"{w} trace={trace} emits every {kind} metric finite with its unit"
                          + (f" (bad: {bad})" if bad else ""), not bad))
            cases.append((f"{w} trace={trace} output checks pass",
                          code == 0 and res["correct"] and res["failed"] == 0))
    return cases


def run(java, work):
    root = os.path.join(work, "inputs")
    os.makedirs(root, exist_ok=True)
    tables = {"events": inputs.events_dir(root, 7, 10000)[0],
              "documents": inputs.documents_dir(root, 7, 2000)[0]}
    out = os.path.join(work, "selftest_out")
    code, text = java("graft.perfbench.SelfTest",
                      ["--work", os.path.join(work, "st"), "--out", out,
                       "--events", tables["events"], "--documents", tables["documents"]])
    cases = []
    for line in text.splitlines():
        if line.startswith('{"check"'):
            r = json.loads(line)
            cases.append((r["check"], r["ok"]))
    cases.append(("SelfTest exited 0", code == 0))
    if os.path.exists(os.path.join(out, "oracle_sql.json")):
        cases += oracle_cases(out, tables)
    else:
        cases.append(("oracle outputs were written", False))
    cases += metric_cases(java, work, root)
    for name, ok in cases:
        print(f"[{'PASS' if ok else 'FAIL'}] {name}")
    failed = sum(1 for _, ok in cases if not ok)
    print(f"{len(cases) - failed}/{len(cases)} self-test cases passed")
    return 0 if failed == 0 else 1
