"""Self-tests of the benchmark (not of the program).

    python3 perfbench/selftest.py            # all, about three minutes on 4 cores
    python3 perfbench/selftest.py --quick    # skip the two JVM tests

1. the generators are deterministic: the same seed gives byte-identical
   tables, pages and batches, another seed gives different ones; the
   pipeline's decision mix is the same for every seed;
2. the op_tail_ms percentile rule;
3. the self-time arithmetic on a hand-built span tree;
4. Spark attribution: q08_vote_groups gets at least one job and shuffle
   bytes under its own op, and none of its shuffle shows under q13_topk,
   which runs right after it;
5. the committed catalog lists follow the corpus/SQL rule (catalog.py).
"""
import argparse
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


def files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)


def same_tree(a, b):
    fa, fb = files(a), files(b)
    return fa == fb and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
                            for f in fa)


def test_generators(tmp):
    def make(seed, tag):
        d = os.path.join(tmp, tag)
        gen.write_tables(seed, 0.001, os.path.join(d, "tables"))
        gen.write_pipeline(seed, 6, os.path.join(d, "pages"))
        gen.write_ingest(seed, 3, 50, os.path.join(d, "batches"))
        return d
    a, b, c = make(11, "a"), make(11, "b"), make(12, "c")
    assert same_tree(a, b), "same seed gave different inputs"
    for sub in ("tables", "pages", "batches"):
        x, y = os.path.join(a, sub), os.path.join(c, sub)
        assert not same_tree(x, y), f"another seed gave the same {sub}"
    kinds = json.load(open(os.path.join(a, "batches", "kinds.json")))
    assert set(kinds[0]) == {"new"} and {"copy", "near"} <= set(kinds[1] + kinds[2])
    def decisions(d):
        return [x["decision"] for x in json.load(open(os.path.join(d, "pages", "expected.json")))]
    assert decisions(a)[0] == "publish"
    # a fixed decision mix: only the order changes with the seed
    assert sorted(decisions(a)) == sorted(decisions(c)), (decisions(a), decisions(c))
    mix = gen.decision_mix(21)
    assert (mix.count("publish"), mix.count("quarantine"), mix.count("skip")) == (9, 1, 11), mix


def test_tail():
    assert stats.tail(list(range(1, 101))) == (90.0, 90, 100)
    pct, val, n = stats.tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 11])
    assert (val, n) == (1, 11) and abs(pct - 100 / 11) < 1e-9
    assert stats.tail([3, 1, 2]) == (100.0, 3, 3)


def test_self_times():
    # op 0..100 ns with children build 10..40 and execute 40..90; execute
    # has a child 50..60; a sibling op 100..130 without children
    spans = [{"id": 0, "parent": -1, "t0": 0, "t1": 100},
             {"id": 1, "parent": 0, "t0": 10, "t1": 40},
             {"id": 2, "parent": 0, "t0": 40, "t1": 90},
             {"id": 3, "parent": 2, "t0": 50, "t1": 60},
             {"id": 4, "parent": -1, "t0": 100, "t1": 130}]
    st = stats.self_times(spans)
    assert st == {0: (100, 20), 1: (30, 30), 2: (50, 40), 3: (10, 10), 4: (30, 30)}, st


def test_attribution():
    import run as bench
    r = bench.Run(argparse.Namespace(workload="sql_sf01", seed=5, seconds=0, trace=1))
    try:
        cfg = r.inputs()
        cfg.update(ops=["q08_vote_groups", "q13_topk"], warm_passes=0, dump=False)
        _, res = r.finish(*r.start(cfg, "run"))
    finally:
        r.stop()
        shutil.rmtree(r.dir, ignore_errors=True)
    q08, q13 = res["spark"]["p0:q08_vote_groups"], res["spark"].get("p0:q13_topk", {})
    assert q08["jobs"] >= 1 and q08["shuffle_write_b"] > 0, q08
    assert q13.get("jobs", 0) >= 1 and q13.get("shuffle_write_b", 0) == 0, q13


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--quick", action="store_true")
    a = ap.parse_args()
    os.makedirs(build.build_dir(), exist_ok=True)
    tmp = tempfile.mkdtemp(dir=build.build_dir())
    tests = [("generators", lambda: test_generators(tmp)), ("tail", test_tail),
             ("self_times", test_self_times)]
    if not a.quick:
        tests += [("attribution", test_attribution),
                  ("catalog", lambda: subprocess.run(
                      [sys.executable, os.path.join(HERE, "catalog.py")], check=True))]
    failed = 0
    try:
        for name, t in tests:
            try:
                t()
                print(f"ok   {name}")
            except Exception as e:  # report every test, then fail
                failed += 1
                print(f"FAIL {name}: {e!r}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
