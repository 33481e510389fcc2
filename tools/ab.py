"""Interleaved A/B of registry keys across session confs or source trees.

A variant is a label, an optional source tree and optional session
confs. Every (rep, variant) runs in a fresh Python process whose
``neo_olap_spark`` package comes from the variant's tree (default: this
checkout); the measuring code is always this checkout's ``bench.py``,
so every variant is timed the same way:

- ``get_spark(conf=<variant confs>)``, then the ``bench.main`` warmup
  (the ``range`` sum, then ``bench._warm_python_workers``);
- ``bench.run_set``: each key cold then warm, inside a
  ``key_contention_probe_start``/``_end`` bracket;
- ``bench.host_load_probe`` before and after the keys.

Each key's cold and warm run is tagged with Spark job groups,
``key:cold:build`` and ``key:cold:exec`` (the operator call, then the
noop write), and the same for ``warm``; the worker returns each
group's job count beside the seconds, and the summary gives their
medians. ``bench.py``'s timing points are unchanged; the tags add two
``setJobGroup`` calls to each timed run, and the counts are read after
the last key. Jobs a key starts from another thread are not
attributed: a streaming query runs its micro-batch jobs on its own
thread under its own job group, so they are missing from the key's
counts.

Variant order alternates every rep (A,B then B,A), so host drift loads
every variant equally. The output is one JSON document: per variant,
per-key cold/warm medians and quartiles over all processes and over
quiet-probe processes only, the per-process warm sums, and every raw
record; failed worker processes are counted and kept, never dropped.
A single variant runs the keys once per rep with nothing to compare.

Keys, wave names, tree paths and the output directory are checked
(ValueError) before any process starts or the output file opens.

Usage:
    python tools/ab.py --sf-dir DIR [--cpus N] [--reps N] [--out FILE]
        [--keys k1,k2] [--wave NAME] --variant SPEC [--variant SPEC ...]

A SPEC is ``LABEL [tree=PATH] [CONF=VALUE ...]``, one shell word, e.g.
``--variant base --variant "zstd spark.io.compression.codec=zstd"``
or ``--variant "parent tree=/path/to/worktree"``. A tree older than
``get_spark(conf=)`` can run only without confs.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER_TIMEOUT_S = 3600


def _bench():
    """This checkout's bench.py, imported by path so a variant tree's
    own bench.py never shadows the measuring code."""
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(HERE, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def parse_variant(spec: str) -> dict:
    label, *items = spec.split()
    tree, conf = HERE, {}
    for item in items:
        k, sep, v = item.partition("=")
        if not sep or not k or not v:
            raise ValueError(f"variant {label!r}: expected KEY=VALUE, got {item!r}")
        if k == "tree":
            tree = os.path.abspath(v)
        else:
            conf[k] = v
    return {"label": label, "tree": tree, "conf": conf}


def validate(keys: list[str], variants: list[dict], sf_dir: str, registry) -> None:
    """Raise ValueError on anything that would waste a run or clobber
    an artifact: unknown keys, duplicate labels, missing trees."""
    if not keys:
        raise ValueError("no keys: pass --keys and/or --wave")
    unknown = [k for k in keys if k not in registry]
    if unknown:
        raise ValueError(f"keys not in the registry: {unknown}")
    labels = [v["label"] for v in variants]
    if not variants or len(set(labels)) != len(labels):
        raise ValueError(f"need one or more distinct variant labels, got {labels}")
    for v in variants:
        if not os.path.isdir(os.path.join(v["tree"], "neo_olap_spark")):
            raise ValueError(
                f"variant {v['label']!r}: {v['tree']} has no neo_olap_spark/"
            )
    if not os.path.isdir(sf_dir):
        raise ValueError(f"sf dir {sf_dir} does not exist")


def _job_tagged(spark, qs: dict, groups: list) -> dict:
    """``qs`` with each builder call running under the job group
    ``key:phase:build`` and the write that follows it under
    ``key:phase:exec`` (phase ``cold`` on a key's first call, ``warm``
    on its second); each call appends its ``(key, phase)`` to
    ``groups``. Inside the timed run this costs two ``setJobGroup``
    calls; the counting waits for ``_job_counts``."""
    sc = spark.sparkContext

    def tagged(key, fn):
        def call(spark, sf_dir):
            phase = "warm" if (key, "cold") in groups else "cold"
            groups.append((key, phase))
            sc.setJobGroup(f"{key}:{phase}:build", key)
            df = fn(spark, sf_dir)
            sc.setJobGroup(f"{key}:{phase}:exec", key)
            return df
        return call

    return {k: tagged(k, fn) for k, fn in qs.items()}


def _job_counts(spark, groups: list) -> dict:
    """``{phase: {key: {"build": n, "exec": m}}}`` for the tagged runs,
    from Spark's status store. It keeps the last
    ``spark.ui.retainedJobs`` jobs (1000 by default), so a worker whose
    keys run more jobs than that undercounts its first keys."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs: dict[str, dict] = {"cold": {}, "warm": {}}
    for key, phase in groups:
        jobs[phase][key] = {
            part: len(sc.statusTracker().getJobIdsForGroup(f"{key}:{phase}:{part}"))
            for part in ("build", "exec")
        }
    return jobs


def worker(spec: dict) -> dict:
    """One measured process: runs in the fresh child, prints its record."""
    sys.path.insert(0, spec["tree"])
    from neo_olap_spark.registry import queries
    from neo_olap_spark.session import get_spark

    bench = _bench()
    kwargs = {"conf": spec["conf"]} if spec["conf"] else {}
    spark = get_spark("neo-olap-ab", cpus=spec["cpus"], **kwargs)
    qs = queries()
    spark.range(1000).selectExpr("sum(id)").collect()
    bench._warm_python_workers(spark, spec["cpus"])
    errors: dict[str, str] = {}
    probes: dict[str, dict] = {}
    groups: list[tuple[str, str]] = []
    tagged = _job_tagged(spark, qs, groups)
    probe_start = bench.host_load_probe()
    cold, warm = bench.run_set(spark, tagged, spec["sf_dir"], spec["keys"], errors, probes)
    probe_end = bench.host_load_probe()
    jobs = _job_counts(spark, groups)
    spark.stop()
    return {
        "cold": cold, "warm": warm, "jobs": jobs, "errors": errors, "key_probes": probes,
        "host_probe_start": probe_start, "host_probe_end": probe_end,
    }


def run_worker(spec: dict) -> dict:
    """Run one process; a crash, timeout or missing result line comes
    back as a failed record."""
    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker", json.dumps(spec)],
            # Spark's Python workers import UDF modules from the
            # driver's working directory, so it must be the tree too
            cwd=spec["tree"], capture_output=True, text=True,
            timeout=WORKER_TIMEOUT_S,
        )
    except subprocess.TimeoutExpired:
        return {"failed": f"timeout after {WORKER_TIMEOUT_S} s"}
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    if proc.returncode != 0 or not lines:
        return {"failed": f"exit {proc.returncode}: {proc.stderr[-500:]}"}
    return json.loads(lines[-1][len("RESULT "):])


def _spread(xs: list[float]) -> dict | None:
    if not xs:
        return None
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return {"median": round(med, 3), "q1": round(q1, 3), "q3": round(q3, 3), "n": len(xs)}


def _is_quiet(rec: dict) -> bool:
    return all(rec[p].get("verdict") == "quiet"
               for p in ("host_probe_start", "host_probe_end"))


def _per_key(records: list[dict], keys: list[str]) -> dict:
    out = {}
    for key in keys:
        out[key] = {"jobs": {}}
        for phase in ("cold", "warm"):
            out[key][phase] = _spread([r[phase][key] for r in records if key in r[phase]])
            runs = [r["jobs"][phase][key] for r in records if key in r["jobs"][phase]]
            out[key]["jobs"][phase] = {
                part: statistics.median(j[part] for j in runs) for part in ("build", "exec")
            } if runs else None
    return out


def summarize(keys: list[str], variants: list[dict], records: list[dict]) -> dict:
    out = {}
    for v in variants:
        mine = [r for r in records if r["variant"] == v["label"]]
        ok = [r for r in mine if "failed" not in r]
        quiet = [r for r in ok if _is_quiet(r)]
        out[v["label"]] = {
            "tree": v["tree"],
            "conf": v["conf"],
            "processes": len(mine),
            "failed_processes": len(mine) - len(ok),
            "quiet_processes": len(quiet),
            "warm_sums": [round(sum(r["warm"].values()), 3) for r in ok],
            "keys": _per_key(ok, keys),
            "keys_quiet": _per_key(quiet, keys),
        }
    return out


def run(keys: list[str], variants: list[dict], reps: int, sf_dir: str,
        cpus: int, registry) -> dict:
    validate(keys, variants, sf_dir, registry)
    records = []
    for rep in range(reps):
        for v in variants if rep % 2 == 0 else variants[::-1]:
            spec = {"tree": v["tree"], "conf": v["conf"], "keys": keys,
                    "sf_dir": sf_dir, "cpus": cpus}
            rec = {"variant": v["label"], "rep": rep, **run_worker(spec)}
            records.append(rec)
            print(json.dumps({k: rec.get(k) for k in ("variant", "rep", "failed")}),
                  file=sys.stderr, flush=True)
    return {
        "sf_dir": sf_dir, "cpus": cpus, "reps": reps, "keys": keys,
        "variants": summarize(keys, variants, records),
        "records": records,
    }


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--worker", help=argparse.SUPPRESS)
    ap.add_argument("--keys", default="", help="comma-separated registry keys")
    ap.add_argument("--wave", action="append", default=[],
                    help="a bench.WAVES name whose keys to add (repeatable)")
    ap.add_argument("--variant", action="append", default=[])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--out", help="JSON output file (default: stdout)")
    a = ap.parse_args(argv)
    if a.worker:
        print("RESULT " + json.dumps(worker(json.loads(a.worker))), flush=True)
        return
    if not a.sf_dir:
        raise ValueError("--sf-dir (or SPARK_GRAFT_SF_DIR) is required")
    waves = dict(_bench().WAVES)
    missing = [w for w in a.wave if w not in waves]
    if missing:
        raise ValueError(f"unknown wave(s) {missing}; known: {list(waves)}")
    keys = [k for k in a.keys.split(",") if k]
    keys += [k for w in a.wave for k in waves[w] if k not in keys]
    if a.out and not os.path.isdir(os.path.dirname(os.path.abspath(a.out))):
        raise ValueError(f"--out: no directory for {a.out}")
    sys.path.insert(0, HERE)
    from neo_olap_spark.registry import queries

    variants = [parse_variant(s) for s in a.variant]
    doc = run(keys, variants, a.reps, os.path.abspath(a.sf_dir), a.cpus, queries())
    text = json.dumps(doc, indent=1)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
