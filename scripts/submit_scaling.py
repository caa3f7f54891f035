"""North-rule packaging lane: the CrawlEngine job via ``spark-submit
--py-files`` at two parallelism levels.

The north rule names the delivery mechanism: "the whole job runs via
spark-submit --py-files on N and 4N executors". This lane runs
scripts/submit_frontier.py that way:

* ``navi_spark`` is zipped and shipped with ``--py-files navi_spark.zip``,
  the only artifact the job gets;
* the job file is COPIED into an empty temp dir and submitted from there,
  with PYTHONPATH scrubbed from the environment, so the driver AND the
  Python workers can only import the package from the zip (the job
  asserts so);
* two levels (local[N] / local[4N]), taskset-pinned, fresh JVM per run,
  interleaved samples, min per level.

Usage:
  python scripts/submit_scaling.py pair [n_urls] [N]   # one interleaved
        N / 4N sample, appends BENCH/submit_scaling.jsonl
  python scripts/submit_scaling.py report [N] [n_urls] # aggregate minima
        → BENCH/SUBMIT_SCALING.md
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = os.path.join(REPO, "BENCH", "submit_scaling.jsonl")
SPARK_SUBMIT = os.path.join(
    os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit"
)


def build_zip(staging: str) -> str:
    """Zip the navi_spark package (sources only) into ``staging``."""
    base = os.path.join(staging, "navi_spark")
    return shutil.make_archive(
        base, "zip", root_dir=REPO, base_dir="navi_spark"
    )


def run_at(cpus: int, n_urls: int, staging: str, zip_path: str) -> dict:
    """One spark-submit run at local[cpus], import-isolated from the repo."""
    job = os.path.join(staging, "submit_frontier.py")
    if not os.path.exists(job):
        shutil.copy(os.path.join(REPO, "scripts", "submit_frontier.py"), job)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [
            "taskset", "-c", f"0-{cpus - 1}",
            SPARK_SUBMIT,
            "--master", f"local[{cpus}]",
            # the driver JVM is already up when the job builds its session,
            # so its memory must be set here, not in the job
            "--driver-memory", "2g",
            "--conf", f"spark.sql.shuffle.partitions={2 * cpus}",
            "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            job, str(n_urls), REPO,
        ],
        capture_output=True, text=True, timeout=1800, cwd=staging, env=env,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(
        f"spark-submit failed:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
    )


def main_pair() -> None:
    n_urls = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    os.makedirs(os.path.dirname(RUNS), exist_ok=True)
    staging = tempfile.mkdtemp(prefix="navi-submit-")
    try:
        zip_path = build_zip(staging)
        with open(RUNS, "a") as f:
            for cpus in (n, 4 * n):
                r = run_at(cpus, n_urls, staging, zip_path)
                rec = {"lane": "spark-submit --py-files", "job": "CrawlEngine",
                       "cpus": cpus,
                       **{k: v for k, v in r.items()
                          if k not in ("visit_order", "seen")}}
                f.write(json.dumps(rec) + "\n")
                f.flush()
                print(rec, flush=True)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def main_report() -> None:
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    n_urls = int(sys.argv[3]) if len(sys.argv) > 3 else 100_000
    # only CrawlEngine rows at this size: the file also holds the retired
    # proxy job's samples and smoke-test rows at other sizes
    rows = [json.loads(ln) for ln in open(RUNS)]
    rows = [r for r in rows
            if r.get("job") == "CrawlEngine" and r["n_urls"] == n_urls]
    lo = [r for r in rows if r["cpus"] == n]
    hi = [r for r in rows if r["cpus"] == 4 * n]
    if not lo or not hi:
        raise SystemExit("need samples at both levels — run `pair` first")
    blo = min(lo, key=lambda r: r["wall_sec"])
    bhi = min(hi, key=lambda r: r["wall_sec"])
    speedup = round(blo["wall_sec"] / bhi["wall_sec"], 3)
    eff = round(speedup / 4.0, 3)
    path = os.path.join(REPO, "BENCH", "SUBMIT_SCALING.md")
    with open(path, "w") as f:
        f.write(f"""# BENCH/SUBMIT_SCALING.md — spark-submit --py-files lane

The north rule names the delivery mechanism: "the whole job runs via
spark-submit --py-files on N and 4N executors". The job is `CrawlEngine`
(scripts/submit_frontier.py: `bootstrap` + `run` over the synthetic
universe), launched with
`spark-submit --master local[{{N}}] --py-files navi_spark.zip`
from an empty temp dir with PYTHONPATH scrubbed — the driver and the
Python workers import navi_spark ONLY from the shipped zip (asserted
in-job: `navi_spark.__file__` must resolve inside the zip and must not
start with the repo root).

## Result ({blo['n_urls']:,} URLs, min over {len(lo)}/{len(hi)} interleaved samples)

| level | wall | pages fetched |
|---|---|---|
| local[{n}] | {blo['wall_sec']} s | {blo['fetched']:,} |
| local[{4 * n}] | {bhi['wall_sec']} s | {bhi['fetched']:,} |

**speedup {speedup}× / 4 → scaling efficiency {eff}**

All walls — local[{n}]: {sorted(r['wall_sec'] for r in lo)},
local[{4 * n}]: {sorted(r['wall_sec'] for r in hi)}.
Package origin in the best run: `{blo['pkg_origins']['navi_spark']}`.

Protocol: taskset-pinned fresh JVM per run, interleaved levels, min per
level; samples in BENCH/submit_scaling.jsonl (rows with
`"job": "CrawlEngine"`). The packaging itself, with oracle parity of the
crawl, is regression-tested at small scale by tests/test_spark_submit.py.

Generated by:
  python scripts/submit_scaling.py pair {blo['n_urls']} {n}   (×S samples)
  python scripts/submit_scaling.py report {n} {blo['n_urls']}
""")
    print(f"wrote {path}")
    print(json.dumps({"speedup": speedup, "efficiency": eff,
                      f"local[{n}]": blo["wall_sec"],
                      f"local[{4*n}]": bhi["wall_sec"]}))


if __name__ == "__main__":
    {"pair": main_pair, "report": main_report}[sys.argv[1]]()
