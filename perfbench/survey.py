#!/usr/bin/env python3
"""Traced survey of the whole query board (not a gated workload).

    python3 perfbench/survey.py <tables_dir>     # -> survey/board_survey.json
    python3 perfbench/survey.py --bench-tables   # -> survey/bench_survey.json
    python3 perfbench/survey.py                  # SURVEY.md again from both

Runs every ``SparkEntry.queries`` entry twice in one JVM with tracing on
(first call, then warm), batch queries first and stream replays last.
``<tables_dir>`` is a directory of the board's parquet tables;
``--bench-tables`` generates the tables a benchmark run reads (seed
``BENCH_SEED``, the scale factor of ``spec.json``) and surveys those. Each
survey is one JSON file: one record per query and call (construct and
execute seconds, jobs, stages, tasks, executor run time, shuffle and
spill bytes, Catalyst planning ms, wall time outside any stage) and the
error of every query that failed.

``SURVEY.md`` sets the ``ops_mix`` slices against the whole batch board
(warm p50 and p90, construction share, jobs per query, executor busy
share) in each survey, and lists the top 20 queries by jobs and by
non-executor wall time.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys

import gen
import layers
import run

# The module-stratified 1/8 draw of the batch board the ops_mix workload
# was cut from (ordered by warm time within each module).
SLICE_47 = """q_time_to_convert q_sessionize q_entropy_rate q_item_cosine q_embedding_neardups
q_cluster_reps q_k_anonymity q_cramers_v q_key_skew q_observe q_cbo_multijoin q_audio_spectrum
q_image_resize q_string_fns q_listagg q_semi_join q_unpivot q_window_topk q_full_outer q_sql_pipe
q_global_sort q_profile q_sql_recursive q_silhouette q_ann_ivf q_branch_dml q_branch_merge
q_zorder_table q_vacuum q_sql_update q_sql_insert q_sql_constraint_ddl q_dpp_join
q_cochran_armitage q_theil_u q_bartlett q_icc q_durbin_watson q_hurst q_bootstrap_ci
q_rolling_autocorr_dist q_feature_hashing q_pack_offsets q_lexical_diversity q_bm25 q_rrf
q_nb_confusion""".split()


OUT = os.path.join(run.BENCH, "survey")
BOARD, BENCH_TABLES = "board_survey.json", "bench_survey.json"
BENCH_SEED = 1


# How the ops_mix draw was made, and at which scale it holds.
SLICE_NOTE = (
    "The ops_mix workload's 13 queries come from the 47-query slice: one from each of the "
    "nine modules and a second from each of the four largest. They were picked on the "
    f"`{BENCH_TABLES}` survey, the tables a run generates: the best of 200 000 seeded random "
    "draws whose warm calls sum to at most 5.6 s, scored by the largest deviation from the "
    "board on p50, construction share and jobs per query plus half the deviation on p90. "
    "At that scale the draw is within 5% of the board on all four. The match holds at the "
    "scale the benchmark runs, not on the sf0.1 tables: there, where execution weighs more, "
    "the draw is faster than the board and spends a larger share in construction.")


def summary(recs, cores):
    """Warm-call figures of a set of per-query records."""
    s = [r["s"] for r in recs]
    construct = sum(r["construct_s"] for r in recs)
    return {"queries": len(recs),
            "p50_s": statistics.median(s),
            "p90_s": statistics.quantiles(s, n=10, method="inclusive")[8],
            "construct_share": construct / (construct + sum(r["execute_s"] for r in recs)),
            "jobs_per_query": statistics.fmean(r["jobs"] for r in recs),
            "busy_share": sum(r["executor_run_s"] for r in recs) / (sum(s) * cores)}


def collect(tables, label):
    """Run the survey JVM; return the per-query records."""
    cp = run.classpath()
    work = os.path.join(run.BUILD, "survey-run")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "warehouse", "spark-local"):
        os.makedirs(os.path.join(work, d))
    result_path = os.path.join(work, "result.json")
    cmd = run.java(cp, "6g", work, [
        "--workload", "survey", "--seed", "0", "--seconds", "0", "--trace", "1",
        "--tables", os.path.abspath(tables), "--out", result_path, "--ops", "-"])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        rc = run.run_group(cmd, 7200, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                           env=dict(os.environ, SPARK_GRAFT_CPUS=str(run.cores())))
    if rc != 0:
        sys.exit(f"survey JVM exited with {rc}")
    with open(result_path) as f:
        r = json.load(f)
    calls = {}
    for rec in layers.per_op(layers.build_tree(r["trace"])):
        calls.setdefault(rec.pop("op"), {})["cold" if rec.pop("pass") == 0 else "warm"] = rec
    # errors as they happened, with file paths elided
    errors = {q: re.sub(r"(file:)?/[^\s,;]+", "<path>", m) for q, m in r["failures"].items()}
    queries = {name: dict(calls.get(name, {}), **({"error": errors[name]} if name in errors else {}))
               for name in sorted({o["op"] for o in r["ops"]})}
    return {"tables": label, "cores": r["cores"],
            "passes_s": [p["s"] for p in r["passes"]], "queries": queries}


def slices(data):
    """Rows of the slices-against-the-board table of one survey."""
    cores, queries = data["cores"], data["queries"]
    batch = {q: c["warm"] for q, c in queries.items()
             if "warm" in c and "error" not in c and not q.startswith("q_stream")}
    ops_mix = [q for qs in run.SPEC["workloads"]["ops_mix"]["ops"].values() for q in qs]
    board = summary(list(batch.values()), cores)
    cut = {"47-query slice": summary([batch[q] for q in SLICE_47 if q in batch], cores),
           "ops_mix workload": summary([batch[q] for q in ops_mix if q in batch], cores)}
    fmt = lambda v: f"{v:.3f}" if isinstance(v, float) else str(v)
    lines = ["| | " + " | ".join(["board"] + list(cut)) + " |", "|---|" + "---|" * (1 + len(cut))]
    for key in ("queries", "p50_s", "p90_s", "construct_share", "jobs_per_query", "busy_share"):
        dev = [f"{fmt(c[key])} ({(c[key] / board[key] - 1) * 100:+.0f}%)" if key != "queries"
               else fmt(c[key]) for c in cut.values()]
        lines.append(f"| {key} | {fmt(board[key])} | " + " | ".join(dev) + " |")
    return lines


def top20(data):
    """The top 20 queries by jobs and by non-executor wall time."""
    queries = data["queries"]
    warm = {q: c["warm"] for q, c in queries.items() if "warm" in c and "error" not in c}
    lines = []
    for title, key in (("jobs", "jobs"), ("non-executor wall time (s)", "non_executor_s")):
        lines += [f"## Top 20 queries by {title} ({data['tables']})", "",
                  f"| query | {key} warm | {key} cold | wall warm (s) | wall cold (s) | "
                  "construct warm (s) | tasks warm | executor run warm (s) |",
                  "|---|---|---|---|---|---|---|---|"]
        fmt = (lambda v: f"{v:.3f}") if key != "jobs" else str
        for q in sorted(warm, key=lambda q: -warm[q][key])[:20]:
            w, c = warm[q], queries[q].get("cold", {})
            lines.append(f"| {q} | {fmt(w[key])} | {fmt(c.get(key, 0))} | {w['s']:.3f} | "
                         f"{c.get('s', 0):.3f} | {w['construct_s']:.3f} | {w['tasks']} | "
                         f"{w['executor_run_s']:.3f} |")
        lines.append("")
    return lines


def report(*surveys):
    """SURVEY.md: the slices against the board, the top 20 lists, the errors."""
    lines = ["# Traced survey of the query board", "",
             "`python3 perfbench/survey.py`: every board query called twice in one "
             f"`local[{surveys[0]['cores']}]` JVM, traced (first call, then warm), batch queries "
             "first. Per-query records: " + ", ".join(
                 f"`{f}` ({d['tables']})" for f, d in zip((BOARD, BENCH_TABLES), surveys)) + ". "
             "Figures below are warm calls; the batch queries make the board.", "",
             SLICE_NOTE, ""]
    for data in reversed(surveys):  # the scale a run measures first
        lines += [f"## Slices against the batch board: {data['tables']}", ""] + slices(data) + [""]
    lines += top20(surveys[0])
    for data in surveys:
        errors = {q: c["error"] for q, c in data["queries"].items() if "error" in c}
        lines += [f"## Errors: {data['tables']}", ""]
        lines += [f"- `{q}`: {e[:300]}" for q, e in errors.items()] or ["none"]
        lines.append("")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description="traced survey of the whole query board")
    src = ap.add_mutually_exclusive_group()
    src.add_argument("tables", nargs="?",
                     help=f"directory with the board's parquet tables (writes {BOARD})")
    src.add_argument("--bench-tables", action="store_true",
                     help=f"survey the tables a benchmark run generates (writes {BENCH_TABLES})")
    a = ap.parse_args()
    if a.tables or a.bench_tables:
        if a.bench_tables:
            sf = run.SPEC["sf"]
            tables = os.path.join(run.BUILD, "survey-tables")
            shutil.rmtree(tables, ignore_errors=True)
            gen.gen_tables(BENCH_SEED, sf, tables)
            name, out = f"generated sf{sf} seed {BENCH_SEED}", BENCH_TABLES
        else:
            tables, out = a.tables, BOARD
            name = os.path.basename(os.path.abspath(tables))
        data = collect(tables, name)
        with open(os.path.join(OUT, out), "w") as f:
            json.dump(data, f, indent=1, sort_keys=True)
    surveys = []
    for path in (BOARD, BENCH_TABLES):
        if os.path.exists(os.path.join(OUT, path)):
            with open(os.path.join(OUT, path)) as f:
                surveys.append(json.load(f))
    with open(os.path.join(OUT, "SURVEY.md"), "w") as f:
        f.write(report(*surveys))


if __name__ == "__main__":
    main()
