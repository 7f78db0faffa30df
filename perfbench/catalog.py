"""Catalog membership of the two query workloads.

Every `SparkEntry.queries` name belongs to exactly one of `sql_sf01` and
`corpus_sf01`: a query that reads `documents` or `embeddings` (in the
frame it returns or in any plan it executes while building it) is a
corpus query, every other query is a SQL query. `catalog.json` commits
the two lists, the tables each query reads (used for write_amp) and the
probe subset each workload times.

    python3 perfbench/catalog.py           # check the committed lists
    python3 perfbench/catalog.py --write   # rewrite them from the catalog

The check builds every declared query once (about two minutes on 4
cores); the benchmark itself only compares names, at set-up.
"""
import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run as bench  # noqa: E402

CORPUS_TABLES = {"documents", "embeddings"}


def read_sets(seed=7):
    a = argparse.Namespace(workload="sql_sf01", seed=seed, seconds=0, trace=0)
    r = bench.Run(a)
    try:
        import gen
        data = os.path.join(r.dir, "data")
        gen.write_tables(seed, 0.001, data)
        cfg = {"kind": "none", "cpus": r.cpus, "warm_passes": 0, "trace": False, "dump": False,
               "work": os.path.join(r.dir, "work"), "data": data}
        _, res = r.finish(*r.start(cfg, "catalog"), timeout=900)
        return res["reads"]
    finally:
        r.stop()
        bench.shutil.rmtree(r.dir, ignore_errors=True)


def split(reads):
    corpus = sorted(n for n, t in reads.items() if CORPUS_TABLES & set(t))
    return sorted(set(reads) - set(corpus)), corpus


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true")
    a = ap.parse_args()
    reads = read_sets()
    sql, corpus = split(reads)
    path = os.path.join(HERE, "catalog.json")
    cat = json.load(open(path))
    if a.write:
        cat.update({"sql_sf01": sql, "corpus_sf01": corpus, "reads": reads})
        with open(path, "w") as f:
            json.dump(cat, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {len(sql)} sql + {len(corpus)} corpus queries")
        return 0
    ok = cat["sql_sf01"] == sql and cat["corpus_sf01"] == corpus
    print(f"catalog rule {'holds' if ok else 'VIOLATED'}: {len(sql)} sql, {len(corpus)} corpus")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
