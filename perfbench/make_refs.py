#!/usr/bin/env python3
"""Writes the reference results the benchmark checks outputs against:
perfbench/refs/<scale>.json, one entry per query of every workload module.

- A query with an oracle in `graft.SparkEntry.oracleSql` gets the
  fingerprint of the DuckDB oracle's result on the fixture. The result is
  written to parquet by DuckDB and fingerprinted by the same JVM code that
  fingerprints the program's results (graft.perfbench.Canon).
- A rows-only query (no oracle) gets the row count the program produces in
  one run of that query, or the envelope below where its count varies.

Usage: python3 perfbench/make_refs.py [scale ...]   (default: every scale
under perfbench/data). Re-run only when the fixtures, the oracle SQL or a
rows-only query's intended result change. Needs the duckdb Python module.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
import benchlib  # noqa: E402
import build  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Rows-only queries whose row count is documented to vary from run to run,
# with the envelope their bounding test asserts.
ROW_ENVELOPES = {
    # Misra-Gries emission depends on micro-batch arrival order; 4 shards of
    # at most k=16 counters (StreamingSpec "ST18").
    "st18_stream_heavy_hitters": (1, 64),
}


def jvm(classes, main, *args):
    subprocess.run(["java", "-Duser.timezone=UTC"] + run.java_options() +
                   ["-cp", build.classpath(classes), main, *map(str, args)],
                   check=True, stdout=subprocess.DEVNULL)


def oracle_parquet(con, sql, path):
    """Writes the oracle's result to parquet. HUGEINT (DuckDB's integer
    sum) is written as BIGINT: parquet has no 128-bit integer and DuckDB
    would write a double, while tools/check.py compares it as an integer."""
    sql = sql.strip().rstrip(";")
    rel = con.sql(sql)
    cols = [f'CAST("{c}" AS BIGINT) AS "{c}"' if str(t) == "HUGEINT" else f'"{c}"'
            for c, t in zip(rel.columns, rel.types)]
    con.execute(f"COPY (SELECT {', '.join(cols)} FROM ({sql}) AS oracle) "
                f"TO '{path}' (FORMAT PARQUET)")


def main():
    classes = build.build()
    work = build.ROOT / ".bench_run" / "refs"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    jvm(classes, "graft.perfbench.Catalog", work / "catalog.json")
    cat = json.loads((work / "catalog.json").read_text())
    oracle, modules = cat["oracle"], cat["modules"]
    wanted = sorted({m for w in benchlib.WORKLOADS.values() for m in w["modules"]})
    scales = sys.argv[1:] or sorted(p.name for p in benchlib.DATA.iterdir())
    for scale in scales:
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{benchlib.DATA / scale}/{t}.parquet'")
        results = work / scale
        results.mkdir()
        rows_only = {}
        for m in wanted:
            for q in modules[m]:
                if q in oracle:
                    oracle_parquet(con, oracle[q], results / f"{q}.parquet")
                else:
                    rows_only.setdefault(m, []).append(q)
        con.close()
        jvm(classes, "graft.perfbench.RefPrints", results, work / f"{scale}.json")
        refs = json.loads((work / f"{scale}.json").read_text())
        for m, qs in rows_only.items():
            raw = run.run_jvm(classes, [m], scale, work / f"{scale}-{m}", 0, 0, 0, only=qs)
            for q in raw["passes"][0]["queries"]:
                if q["error"] is not None:
                    raise SystemExit(f"{q['query']} failed at {scale}: {q['error']}")
                lo_hi = ROW_ENVELOPES.get(q["query"])
                refs[q["query"]] = ({"rows_min": lo_hi[0], "rows_max": lo_hi[1]} if lo_hi
                                    else {"rows": q["rows"]})
        benchlib.REFS.mkdir(exist_ok=True)
        (benchlib.REFS / f"{scale}.json").write_text(
            json.dumps(dict(sorted(refs.items())), indent=1) + "\n")
        print(f"{scale}: {len(refs)} references, rows-only: "
              f"{sorted(q for qs in rows_only.values() for q in qs)}")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
