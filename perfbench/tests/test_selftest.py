"""Self-test of the benchmark's correctness checks.

A run with `--fault 1` plants one wrong expectation (dashboard: one
DuckDB-computed body; lake: one row in the model of the applied ops), so
the checks must report the run as failed. The bookmark replay that
the dashboard check builds its expected bookmark state from is tested
on its own. Run from the repo root:

    python3 -m unittest perfbench/tests/test_selftest.py
"""
import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import check  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(workload, fault):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "5", "--trace", "0", "--fault", str(fault)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600)
    assert p.returncode == 0, p.stdout
    lines = p.stdout.splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["detail"]


class PlantedFaultIsCaught(unittest.TestCase):
    def check(self, workload):
        result, detail = run(workload, fault=1)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertGreater(detail["failed_share"], 0)

    def test_dashboard(self):
        self.check("dashboard")

    def test_lake(self):
        self.check("lake")


class BookmarkReplay(unittest.TestCase):
    def test_toggles_are_replayed_per_client_in_order(self):
        def op(i, client, name, path, status=200):
            return {"id": i, "client": client, "name": name, "path": path,
                    "status": status, "start": float(i)}
        lists = check.bookmark_lists([
            op(0, 0, "bookmark", "/bookmark/1-00001-0001"),
            op(1, 1, "bookmark", "/bookmark/2-00002-0002"),
            op(2, 0, "bookmark", "/bookmark/3-00003-0003"),
            op(3, 0, "bookmark", "/bookmark/1-00001-0001"),
            op(4, 0, "bookmark", "/bookmark/4-00004-0004", status=500),
            op(5, 0, "bookmarks", "/bookmarks"),
            op(6, 1, "bookmarks", "/bookmarks")])
        self.assertEqual(lists[0], ["1-00001-0001"])
        self.assertEqual(lists[2], ["1-00001-0001", "3-00003-0003"])
        self.assertEqual(lists[5], ["3-00003-0003"])
        self.assertEqual(lists[6], ["2-00002-0002"])


class CleanRunPasses(unittest.TestCase):
    def test_dashboard_corners_are_covered(self):
        result, detail = run("dashboard", fault=0)
        self.assertTrue(result["correct"], detail["failures"])
        self.assertEqual(detail["failed_share"], 0)
        self.assertEqual(detail["check"]["corners"], [
            "gap_fill", "malformed_bbl", "top5_plus_other", "unknown_bbl",
            "zero_sales"])


if __name__ == "__main__":
    unittest.main()
