#!/usr/bin/env python3
"""Establish the expected output digests and the workload input sizes.

    python3 perfbench/establish.py

Run once from a full checkout when a workload's key list or the data
changes. At every data scale it writes each workload key's result with
graft.Verify, checks it against the key's DuckDB oracle SQL with
dev/differ.py, and records in expected_digests.json the digest the
harness computes for that key. A key that fails the oracle check gets
no digest, so every run counts it as failed; a key with no oracle is
pinned to the digest it produced. It also records, per workload, the
tables its keys' oracle SQL reads, with their rows and bytes.
"""
import json
import os
import re
import shutil
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq

import run

sys.path.insert(0, os.path.join(run.ROOT, "dev"))
import differ  # noqa: E402

SCALES = ("sf0.01", "sf0.001")


def verify(classes, data_dir, out, keys):
    """graft.Verify's parquet dump of `keys`, then dev/differ.py's
    verdict per key: {key: (passed, verdict)}."""
    shutil.rmtree(out, ignore_errors=True)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    subprocess.run(run.java_cmd(classes, archive=None) +
                   ["graft.Verify", data_dir, out, ",".join(keys)],
                   check=True, cwd=os.path.join(run.BUILD, "tmp"), env=env)
    r = subprocess.run([sys.executable, os.path.join(run.ROOT, "dev",
                                                     "differ.py"),
                        data_dir, out] + keys, capture_output=True, text=True)
    verdicts = {}
    for line in r.stdout.splitlines():
        parts = line.split(None, 2)
        if len(parts) == 3 and parts[0] in ("PASS", "FAIL"):
            verdicts[parts[1]] = (parts[0] == "PASS", parts[2])
    return verdicts


def digests(classes, data_dir, keys):
    """Each key's digest and row count from one harness run, or None
    when the key threw or its digest differed between passes."""
    raw = os.path.join(run.BUILD, "establish", "digests.raw.json")
    run.run_jvm(classes, {"keys": keys, "passes": 2}, data_dir, 1, 0, False,
                raw)
    with open(raw) as f:
        record = json.load(f)
    seen = {}
    for s in record["warm_pass"] + record["samples"]:
        seen.setdefault(s["key"], set()).add((s["digest"], s["rows"]))
    return {k: next(iter(v)) if len(v) == 1 and None not in next(iter(v))
            else None for k, v in seen.items()}


def oracle_tables(sql):
    """The testdata tables an oracle query reads."""
    named = re.findall(r"\b(?:from|join)\s+([a-z_]+)", sql.lower())
    return sorted(set(named) & set(differ.TABLES))


def main():
    wl = run.load_json("workloads.json")
    keys = sorted({k for w in wl["workloads"].values() for k in w["keys"]})
    classes = run.build()
    expected, oracle = {}, {}
    for scale in SCALES:
        data_dir = os.path.join(run.HERE, "data", scale)
        out = os.path.join(run.BUILD, "establish", scale)
        verdicts = verify(classes, data_dir, out, keys)
        with open(os.path.join(out, "oracle_sql.json")) as f:
            oracle = json.load(f)
        got = digests(classes, data_dir, keys)
        expected[scale] = {}
        for k in keys:
            ok, verdict = verdicts.get(k, (False, "no output from Verify"))
            check = f"duckdb {duckdb.__version__}: {verdict}"
            dg = got.get(k)
            expected[scale][k] = {"digest": dg[0] if ok and dg else None,
                                  "rows": dg[1] if dg else None,
                                  "check": check}
            print(f"{scale} {k}: {check}"
                  f"{'' if dg else ' (harness: error or unstable digest)'}")
    with open(os.path.join(run.HERE, "expected_digests.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    data_dir = os.path.join(run.HERE, "data", wl["scale"])
    for w in wl["workloads"].values():
        ts = sorted({t for k in w["keys"] for t in oracle_tables(
            oracle.get(k, ""))})
        w["input"] = {t: {"rows": pq.ParquetFile(
            os.path.join(data_dir, t + ".parquet")).metadata.num_rows,
            "bytes": os.path.getsize(os.path.join(data_dir, t + ".parquet"))}
            for t in ts}
    with open(os.path.join(run.HERE, "workloads.json"), "w") as f:
        json.dump(wl, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
