"""Decide which registry queries form the ``queries_eager`` workload.

    python3 perfbench/profile_membership.py --seed 1 [--write]

Runs every candidate for ``PASSES`` passes on the workload's lineitem
plus the tables only other candidates read (pass 0 also checks each
result against its DuckDB oracle), with Spark's event log on, and
applies the rule below to the warmed passes (1 and later). ``--write``
freezes the chosen items, the rule and the evidence into
``workloads.json``; the benchmark itself never re-runs this.

Rule, in order:
  1. correct: the result matches the oracle on the benchmark's inputs;
  2. no module-level memo: the first build takes less than 10x the
     warmed build (a cold JVM gives up to about 5x on the first item; a
     cache across calls gives 30x and more, and later passes would then
     time nothing);
  3. eager: the builder runs at least 3 Spark jobs before returning and
     its build is at least half of the item's time;
  4. no Python UDF in the plan, so Python-worker CPU stays ~0 and the
     workload isolates the JVM and driver-side build;
  5. budget: qualifying items are taken cheapest first while their summed
     warmed item time stays within BUDGET_S, so that a run with its three
     set-ups, check pass, warm-up and timed passes ends well inside the
     time the benchmark may take.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
from collections import defaultdict

import numpy as np
import pandas as pd

import inputs
import run
from spans import Tracer

CANDIDATES = [
    "pagerank_copurchase",
    "kcore_peeling",
    "label_prop_communities",
    "dedup_clusters",
    "zonal_stats_ranked",
    "zonal_stats_disc",
    "mann_kendall_trend",
    "embedding_kmeans",
    "bpe_learn_merges",
]
PASSES = 5
BUDGET_S = 4.5
PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas")
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def make_candidate_tables(out: str, seed: int, sf: float) -> None:
    """The workload's lineitem plus the tables only some candidates read:
    its orders, documents (word salad, ~20% light edits of an earlier
    doc) and clustered embeddings."""
    inputs.write_parquet(inputs.make_tables(out, seed, sf), os.path.join(out, "orders.parquet"))
    rng = np.random.default_rng([seed, 3])
    n_docs = int(50_000 * sf)
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.2:
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
        else:
            toks = list(rng.choice(words, int(rng.integers(8, 100))))
        texts.append(" ".join(toks))
    inputs.write_parquet(
        pd.DataFrame(
            {
                "doc_id": np.arange(n_docs, dtype="i8"),
                "text": texts,
                "lang": rng.choice(["en", "es", "zh", "de", "fr"], n_docs),
                "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
                "n_chars": np.array([len(t) for t in texts], dtype="i8"),
            }
        ),
        os.path.join(out, "documents.parquet"),
    )
    n_vec = int(20_000 * sf)
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_vec)
    emb = (centers[label] + rng.normal(0, 0.3, (n_vec, 64))) / 8.0
    inputs.write_parquet(
        pd.DataFrame(
            {
                "vec_id": np.arange(n_vec, dtype="i8"),
                "embedding": list(emb.astype("f4")),
                "label": label.astype("i4"),
            }
        ),
        os.path.join(out, "embeddings.parquet"),
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--write", action="store_true")
    args = ap.parse_args()

    run.hermetic_env(max(1, min(4, len(os.sched_getaffinity(0)))))
    with open(os.path.join(run.HERE, "workloads.json")) as f:
        workloads = json.load(f)
    spec = workloads["queries_eager"]
    tracer = Tracer(True)
    wl = run.QueriesWorkload(spec, args.seed, tracer)
    wl.tables = inputs.cached(run.WORK, "candidate-tables", args.seed, make_candidate_tables, sf=spec["sf"])
    wl.items = CANDIDATES
    wl.imports()
    log_dir = os.path.join(run.WORK, "eventlog-profile")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    from shared_etl_pipelines_spark.engine import get_spark

    wl.spark = get_spark("perfbench-profile", extra_conf=run.spark_conf(log_dir))
    wl.spark.sparkContext.setLogLevel("ERROR")
    failures: list[str] = []
    try:
        wl.open_oracle()
        run.run_passes(wl, 0, 1, failures)
        wl.close_oracle()
        run.run_passes(wl, 1, PASSES - 1, failures)
        python_udf = {}
        for name in CANDIDATES:
            plan = wl.registry[name].fn(wl.spark, wl.tables)._jdf.queryExecution().executedPlan().toString()
            python_udf[name] = any(n in plan for n in PY_NODES)
    finally:
        run.stop_spark(wl.spark)

    (log,) = glob.glob(os.path.join(log_dir, "*"))
    groups = run.eventlog.parse_file(log)
    t = defaultdict(lambda: defaultdict(list))
    for s in tracer.spans:
        if s["name"] in ("queries.build", "queries.action"):
            p, name = s["item"].split(":", 1)
            t[name][(s["name"], int(p) > 0)].append(s["end"] - s["start"])
    jobs = defaultdict(list)
    for gid, c in groups.items():
        if gid and gid.endswith("|build") and not gid.startswith("0:"):
            jobs[gid.split(":", 1)[1].rsplit("|", 1)[0]].append(c["jobs"])

    rows = {}
    for name in CANDIDATES:
        build = statistics.median(t[name][("queries.build", True)])
        action = statistics.median(t[name][("queries.action", True)])
        first = t[name][("queries.build", False)][0]
        r = {
            "build_s": round(build, 3),
            "action_s": round(action, 3),
            "build_jobs": statistics.median(jobs[name]) if jobs[name] else 0,
            "first_build_x": round(first / build, 1),
            "python_udf": python_udf[name],
            "correct": name not in failures,
        }
        if not r["correct"]:
            r["verdict"] = "out: mismatch or error on the benchmark inputs"
        elif r["first_build_x"] >= 10:
            r["verdict"] = "out: memoizes across calls at module level"
        elif r["build_jobs"] < 3 or build < action:
            r["verdict"] = "out: not eager (fewer than 3 build jobs or build under half)"
        elif r["python_udf"]:
            r["verdict"] = "out: Python UDF in the plan"
        else:
            r["verdict"] = "eligible"
        rows[name] = r

    chosen, total = [], 0.0
    for name in sorted(
        (n for n, r in rows.items() if r["verdict"] == "eligible"),
        key=lambda n: rows[n]["build_s"] + rows[n]["action_s"],
    ):
        cost = rows[name]["build_s"] + rows[name]["action_s"]
        if total + cost > BUDGET_S:
            rows[name]["verdict"] = "out: over the per-pass budget"
            continue
        total += cost
        chosen.append(name)
        rows[name]["verdict"] = "in"

    for name, r in rows.items():
        print(f"{name:26s} {json.dumps(r)}")
    print(f"chosen {chosen} ({total:.2f} s per warmed pass)")
    if args.write:
        workloads["queries_eager"].update(
            {
                "items": chosen,
                "membership": (
                    f"chosen by profile_membership.py (seed {args.seed}, sf "
                    f"{spec['sf']}, {PASSES} passes, local[4]); rule in its docstring"
                ),
                "profile": rows,
            }
        )
        with open(os.path.join(run.HERE, "workloads.json"), "w") as f:
            json.dump(workloads, f, indent=2)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
