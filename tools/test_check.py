"""Tests for tools/check.py's manifest scoring.

    python3 tools/test_check.py

Each case runs check.py in a fresh temp working directory on a synthetic
Verify output dir, so it never touches a real verify_summary.json.
"""
import json, os, subprocess, sys, tempfile, unittest

import pyarrow as pa
import pyarrow.parquet as pq

CHECK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "check.py")


class CheckManifestTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.out = os.path.join(self.tmp.name, "out")
        self.sf = os.path.join(self.tmp.name, "sf")  # no tables: the oracles need none
        os.makedirs(self.out)
        os.makedirs(self.sf)
        self.write_query("a_good", status="ok")

    def tearDown(self):
        self.tmp.cleanup()

    def write_query(self, name, status, error=None, parquet=True):
        if parquet:
            os.makedirs(os.path.join(self.out, name))
            pq.write_table(pa.table({"x": pa.array([1], pa.int32())}),
                           os.path.join(self.out, name, "part-0.parquet"))
        manifest = self.read_json("manifest.json", {})
        manifest[name] = {"status": status, "error": error, "seconds": 0.1}
        self.write_json("manifest.json", manifest)
        oracle = self.read_json("oracle_sql.json", {})
        oracle[name] = "SELECT 1::INTEGER AS x"
        self.write_json("oracle_sql.json", oracle)

    def read_json(self, name, default):
        path = os.path.join(self.out, name)
        if not os.path.exists(path):
            return default
        with open(path) as f:
            return json.load(f)

    def write_json(self, name, obj):
        with open(os.path.join(self.out, name), "w") as f:
            json.dump(obj, f)

    def check(self):
        cwd = os.path.join(self.tmp.name, "cwd")
        os.makedirs(cwd, exist_ok=True)
        p = subprocess.run([sys.executable, CHECK, self.sf, self.out], cwd=cwd,
                           capture_output=True, text=True)
        return p.returncode, p.stdout + p.stderr

    def test_all_ok_passes(self):
        rc, out = self.check()
        self.assertEqual(rc, 0, out)
        self.assertIn("PASS  a_good", out)

    def test_failed_status_fails_with_reason(self):
        self.write_query("b_boom", status="failed",
                         error="java.lang.IllegalStateException: boom", parquet=False)
        rc, out = self.check()
        self.assertEqual(rc, 1, out)
        self.assertIn("FAIL  b_boom: Verify failed: java.lang.IllegalStateException: boom", out)

    def test_listed_name_without_parquet_fails(self):
        self.write_query("c_lost", status="ok", parquet=False)
        rc, out = self.check()
        self.assertEqual(rc, 1, out)
        self.assertIn("FAIL  c_lost: no spark output", out)

    def test_missing_manifest_fails(self):
        os.remove(os.path.join(self.out, "manifest.json"))
        rc, out = self.check()
        self.assertEqual(rc, 1, out)
        self.assertIn("manifest.json missing", out)


if __name__ == "__main__":
    unittest.main()
