"""Self-tests for the benchmark's own code: the seeded tree generator, the
expected-result model, the mutation plans, the metric names, and the
refusal to run outside a checkout.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

They need no JVM and no build; they take a few seconds.
"""

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import treegen  # noqa: E402

SMALL = treegen.Shape(fanout=(4, 5), files=400, dup_groups=12, dup_dirs=3)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def relative(m):
    """A manifest with paths relative to its root, for comparing trees."""
    r = lambda p: os.path.relpath(p, m.root)  # noqa: E731
    return ({r(d) for d in m.dirs},
            {r(p): v for p, v in m.files.items()},
            [[r(p) for p in g] for g in m.dup_groups],
            [(r(a), r(b)) for a, b in m.dup_dirs])


def on_disk(root):
    """(dirs, files) of a tree as it is on disk, in manifest form."""
    dirs, files = set(), {}
    for d, subdirs, names in os.walk(root):
        dirs.update(os.path.join(d, s) for s in subdirs)
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                body = f.read()
            files[p] = (len(body),) + treegen.digests(body)
    return dirs, files


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def gen(self, seed, name):
        return treegen.generate(seed, os.path.join(self.tmp, name), SMALL)

    def test_same_seed_same_tree(self):
        a, b = self.gen(7, "a"), self.gen(7, "b")
        self.assertEqual(relative(a), relative(b))
        self.assertNotEqual(relative(a)[1], relative(self.gen(8, "c"))[1])

    def test_writes_only_under_its_root(self):
        self.gen(3, "t")
        self.assertEqual(os.listdir(self.tmp), ["t"])

    def test_manifest_is_the_tree_on_disk(self):
        m = self.gen(5, "t")
        dirs, files = on_disk(m.root)
        self.assertEqual(dirs, m.dirs)
        self.assertEqual(files, m.files)
        self.assertEqual(set(m.drives()), {os.path.join(m.root, d)
                                           for d in os.listdir(m.root)})

    def test_planted_duplicates(self):
        m = self.gen(9, "t")
        sizes = [len(g) for g in m.dup_groups]
        self.assertTrue(all(2 <= k <= 50 for k in sizes))
        self.assertIn(50, sizes)
        for g in m.dup_groups:
            self.assertEqual(len({m.files[p] for p in g}), 1)
        for src, copy in m.dup_dirs:
            self.assertEqual(sorted(os.listdir(src)), sorted(os.listdir(copy)))
            for n in os.listdir(src):
                self.assertEqual(m.files[os.path.join(src, n)],
                                 m.files[os.path.join(copy, n)])
        # apart from the planted copies, every body is unique
        planted = {p for g in m.dup_groups for p in g} | {
            p for _s, c in m.dup_dirs for p in m.files if os.path.dirname(p) == c}
        unique = [v for p, v in m.files.items() if p not in planted]
        self.assertEqual(len(unique), len(set(unique)))


class ExpectationTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        cls.m = treegen.generate(11, os.path.join(cls.tmp, "t"), SMALL)
        cls.cat = treegen.Catalogue(cls.m)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def test_like_is_literal_but_for_wildcards(self):
        rx = treegen.like_regex("a_b*.t?t")
        self.assertTrue(rx.fullmatch("a_bXYZ.txt"))
        self.assertFalse(rx.fullmatch("aXbXYZ.txt"))  # '_' is literal
        self.assertFalse(treegen.like_regex("50%").fullmatch("500"))

    def test_duplicate_file_is_every_equal_file(self):
        g = self.m.dup_groups[0]
        got = self.cat.expect("duplicate_file", g[0])
        # the group, plus copies a duplicated directory made of its members
        self.assertLessEqual({"file|" + p for p in g}, set(got))
        self.assertEqual({self.m.files[x.split("|", 1)[1]] for x in got},
                         {self.m.files[g[0]]})
        self.assertEqual(self.cat.expect("duplicate_file", g[0] + ".missing"), [])

    def test_duplicate_dir_covers_copies(self):
        src, copy = self.m.dup_dirs[0]
        got = set(self.cat.expect("duplicate_dir", copy))
        for n in os.listdir(src):
            self.assertIn("file|" + os.path.join(src, n), got)

    def test_drives_have_no_view_rows(self):
        labels = {label for label, _own, _parent in self.cat.rows}
        for d in self.m.drives():
            self.assertNotIn("dir|" + d, labels)

    def test_dir_detail_counts(self):
        d = self.m.drives()[0]
        subdirs, files, total = self.cat.expect("dir_detail", d)[0].split("|")
        self.assertEqual(int(subdirs), len(self.cat.kids[d]))
        self.assertEqual(int(files), len(self.cat.files_in[d]))
        self.assertGreaterEqual(float(total), 0.0)

    def test_search_mix(self):
        ops = treegen.search_args(4, self.m, 200)
        self.assertEqual(ops, treegen.search_args(4, self.m, 200))
        block = len(treegen.BLOCK)
        self.assertEqual(block, 20)
        for i in range(0, 200, block):
            kinds = sorted(o["op"] for o in ops[i:i + block])
            self.assertEqual(kinds, sorted(treegen.BLOCK))
        misses = sum(1 for o in ops if not self.cat.expect(o["op"], o["arg"]))
        self.assertTrue(5 <= misses <= 60, misses)


class MutationPlanTest(unittest.TestCase):
    def test_applying_the_plan_gives_each_manifest(self):
        tmp = tempfile.mkdtemp()
        try:
            m = treegen.generate(13, os.path.join(tmp, "t"), SMALL)
            plan, manifests = treegen.mutation_plan(13, m, 3, os.path.join(tmp, "s"))
            for entry, want in zip(plan, manifests):
                for op in entry["ops"]:
                    p = op["path"]
                    if op["op"] in ("add", "modify"):
                        shutil.copyfile(op["src"], p)
                    else:
                        self.assertEqual(op["op"], "delete")
                        os.remove(p)
                dirs, files = on_disk(m.root)
                self.assertEqual(dirs, want.dirs)
                self.assertEqual(files, want.files)
                sub = entry["subtree"]
                self.assertEqual(
                    {p: tuple(v) for p, v in entry["expect_files"].items()},
                    {p: v for p, v in files.items() if p.startswith(sub + "/")})
                self.assertIn("file|" + entry["dup_probe"], entry["dup_expect"])
                self.assertGreaterEqual(len(entry["dup_expect"]), 2)
            subtrees = [e["subtree"] for e in plan]
            self.assertEqual(len(set(subtrees)), len(subtrees))
        finally:
            shutil.rmtree(tmp)


def catalogue_rows(m):
    return [[p, str(treegen.size_mb(n)), md5, sha1]
            for p, (n, md5, sha1) in sorted(m.files.items())]


class RefreshCheckTest(unittest.TestCase):
    """The refresh checks read each step's drive from the final catalogue
    and never time a step that fails."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.m = treegen.generate(17, os.path.join(self.tmp, "t"), SMALL)
        self.plan, self.manifests = treegen.mutation_plan(
            17, self.m, 3, os.path.join(self.tmp, "s"))

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def outputs(self):
        final = self.manifests[-1]
        steps = [{"step": e["step"], "phase": "refresh" if e["step"] else "warmup",
                  "as_of": 1000 + e["step"], "refresh_s": 2.0 + e["step"],
                  "dup_search": {"op": "duplicate_file", "ms": 10.0,
                                 "result": e["dup_expect"]}} for e in self.plan]
        archived = [[1000 + e["step"], p] for e in self.plan for p in e["archived_files"]]
        return {"catalogue": {"files": catalogue_rows(self.m), "dirs": sorted(self.m.dirs)},
                "steps": steps, "probe": [],
                "refreshed": {"files": catalogue_rows(final), "dirs": sorted(final.dirs),
                              "archived_files": archived, "archived_dirs": []}}

    def check(self, out):
        chk = run.Checker()
        res = run.check_outputs(chk, out, {"probe_ops": []}, self.m,
                                self.plan, self.manifests)
        return chk, res

    def test_correct_outputs_pass(self):
        chk, res = self.check(self.outputs())
        self.assertEqual(chk.failed, 0)
        self.assertEqual(res.op_ms, [3010.0, 4010.0])  # the warm-up is not timed

    def test_a_wrong_file_fails_its_step_only(self):
        out = self.outputs()
        sub = self.plan[1]["subtree"] + "/"
        row = next(r for r in out["refreshed"]["files"] if r[0].startswith(sub))
        row[2] = "0" * 32
        chk, res = self.check(out)
        self.assertTrue(chk.failed >= 1)
        self.assertEqual(res.op_ms, [4010.0])

    def test_a_missing_archive_row_fails_its_step(self):
        out = self.outputs()
        out["refreshed"]["archived_files"] = [
            a for a in out["refreshed"]["archived_files"] if a[0] != 1002]
        chk, res = self.check(out)
        self.assertTrue(chk.failed >= 1)
        self.assertEqual(res.op_ms, [3010.0])


class MetricNamesTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def test_shape(self):
        b = self.bench
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual(b["paths"], ["perfbench"])
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)

    def test_names_and_units(self):
        names = []
        for kind, keys in (("end_to_end", {"name", "unit", "better", "bound"}),
                           ("per_layer", {"name", "unit", "better"})):
            for m in self.bench[kind]:
                self.assertEqual(set(m), keys)
                self.assertRegex(m["name"], NAME)
                self.assertRegex(m["unit"], UNIT)
                self.assertIn(m["better"], ("lower", "higher"))
                if "bound" in m:
                    self.assertTrue(0 < m["bound"] <= 0.25)
                names.append(m["name"])
        self.assertEqual(len(names), len(set(names)))
        setup = [m for m in self.bench["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["better"], "lower")
        self.assertEqual(setup[0]["bound"],
                         max(m["bound"] for m in self.bench["end_to_end"]))

    def test_end_to_end_values_are_the_listed_metrics(self):
        m = treegen.Manifest("/t")
        m.files = {"/t/a/x": (2000, "m", "s")}
        res = run.Outcome(m)
        res.build_ok = True
        res.op_ms = [3.0, 1.0, 2.0]
        out = {"setup_s": 30.0, "state_bytes": 5000, "heap_mb": 95.0}
        values = run.end_to_end_values(out, res)
        self.assertEqual(set(values), {x["name"] for x in self.bench["end_to_end"]})
        self.assertTrue(all(v > 0 for v in values.values()))
        self.assertEqual(values["op_p50_ms"], 2.0)
        self.assertEqual(values["peak_heap_mb"], 95.0)

    def test_per_layer_values_from_run_are_listed(self):
        m = treegen.Manifest("/t")
        m.files = {"/t/a/x": (2000, "m", "s")}
        res = run.Outcome(m)
        res.build_ok = True
        res.changed_files = res.useful_hashes = res.changed_dirs = 4
        out = {"rounds": [{"phase": "refresh", "kind": "crawl", "due": 8, "s": 3.0},
                          {"phase": "refresh", "kind": "crawl", "due": 0, "s": 0.2},
                          {"phase": "refresh", "kind": "hash", "hashed": 16, "s": 1.0},
                          {"phase": "refresh", "kind": "hash", "hashed": 0, "s": 0.1}],
               "round_jobs": {"crawl": [50, 2], "hash": [9, 2]},
               "crawl_s": 10.0, "hash_s": 2.0,
               "steps": [{"phase": "warmup"}, {"phase": "refresh"}],
               "probe": [{"op": "duplicate_dir"}],
               "sources": {"scrape_entries": 10, "scrape_s": 2.0, "hash_bytes": 4e6,
                           "hash_s": 2.0, "hash_errors": 0},
               "layers": {"core.state_bytes_written": 400.0, "core.pin_builds": 1.0},
               "pin_invalidations": 3}
        values = run.per_layer_values(out, m, res)
        listed = {x["name"] for x in self.bench["per_layer"]}
        self.assertLessEqual(set(values), listed)
        self.assertEqual(values["server.rehash_useful_ratio"], 0.25)
        self.assertEqual(values["server.useful_dir_ratio"], 0.5)
        self.assertEqual(values["core.pin_hit_ratio"], 0.5)
        self.assertEqual(values["core.bytes_written_per_changed_file"], 100.0)
        self.assertEqual(values["server.crawl_round_s"], 3.0)
        self.assertEqual(values["server.crawl_round_jobs"], 50)
        self.assertEqual(values["server.rounds"], 2)
        self.assertEqual(values["server.build_files_per_s"], 1 / 12.0)


class RefusalTest(unittest.TestCase):
    def test_refuses_without_program_sources(self):
        tmp = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            res = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "search",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=tmp, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(res.returncode, 0)
            self.assertEqual(res.stdout, "")
            self.assertEqual(sorted(os.listdir(tmp)), ["BENCHMARK.json", "perfbench"])
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
