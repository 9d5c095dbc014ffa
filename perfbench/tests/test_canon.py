"""Fingerprint canonicalization of the benchmark's JVM side (graft.perfbench.Canon),
pinned through RefPrints on a parquet file written by DuckDB. Builds the benchmark."""
import hashlib
import json
import shutil
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import build  # noqa: E402
import make_refs  # noqa: E402


class CanonTest(unittest.TestCase):
    def test_float_null_and_array_values(self):
        import duckdb
        work = Path(tempfile.mkdtemp(dir=build.ROOT / ".bench_build"))
        try:
            duckdb.sql("SELECT * FROM (VALUES (0.1::DOUBLE, NULL::BIGINT, [1, 2, 3]), "
                       "(1e-5::DOUBLE, 7::BIGINT, []::INTEGER[])) t(X, n, a)"
                       ).write_parquet(str(work / "q.parquet"))
            make_refs.jvm(build.build(), "graft.perfbench.RefPrints", work, work / "out.json")
            got = json.loads((work / "out.json").read_text())["q"]
        finally:
            shutil.rmtree(work)
        # columns lower-cased and sorted; NULL spelled out; doubles at full
        # round-trip precision; arrays in brackets; rows sorted
        text = "\n".join(["a\u0001n\u0001x",
                          "[1, 2, 3]\u0001NULL\u00010.1",
                          "[]\u00017\u00011.0E-5"])
        self.assertEqual(got, {"sha256": hashlib.sha256(text.encode()).hexdigest(), "rows": 2})


if __name__ == "__main__":
    unittest.main()
