#!/usr/bin/env python3
"""Write amplification of kv commits, per benchmark run and per version dir.

Run records (default): one line per kv_mixed record of perfbench/run.py
(`.bench_build/runs/*.json`, or the record files and dirs given): seed,
commit (git commit, else the source hash), write_amp, timed commits per
write kind (from `samples.ops`), write_cpu_ms, read_cpu_ms and
steal_ms_timed. write_amp counts the data files of each new version dir
only; the `_` files (markers, `_SUCCESS`) are left out.

Snapshot dirs (`--snapshot BASE`): one line per version dir `v=N` under
a kept snapshot base, with the bytes of its data files, of its `_` files
and of both, so marker metadata shows beside the data it describes.

    python3 tools/commit_amp.py [RECORD_OR_DIR ...] [--snapshot BASE ...] [--json]
"""
import argparse
import glob
import json
import os
import re
import sys

KINDS = ("put", "checkAndPut", "deleteRows", "checkAndDelete", "mutateRow")


def records(paths):
    files = []
    for p in paths:
        if os.path.isdir(p):
            files += glob.glob(os.path.join(p, "*.json"))
        else:
            files.append(p)
    for f in sorted(files, key=os.path.getmtime):
        with open(f) as fh:
            rec = json.load(fh)
        if rec.get("workload") == "kv_mixed":
            yield f, rec


def run_line(f, rec):
    env, m = rec["env"], rec["metrics"]
    commits = {k: 0 for k in KINDS}
    for key, is_write, _wall, _cpu in rec["samples"]["ops"]:
        if is_write:
            commits[key] = commits.get(key, 0) + 1
    return {
        "record": os.path.basename(f),
        "seed": rec["seed"],
        "trace": rec["trace"],
        "commit": env.get("git_commit") or "src:" + (env.get("source_sha256") or "?")[:12],
        "source_sha256": (env.get("source_sha256") or "")[:12],
        "write_amp": m["write_amp"],
        "commits": commits,
        "timed_commits": sum(commits.values()),
        "write_cpu_ms": m["write_cpu_ms"],
        "read_cpu_ms": m["read_cpu_ms"],
        "steal_ms_timed": env.get("steal_ms_timed"),
    }


def version_dirs(base):
    dirs = []
    for name in os.listdir(base):
        v = re.fullmatch(r"v=(-?\d+)", name)
        if v and os.path.isdir(os.path.join(base, name)):
            dirs.append((int(v.group(1)), os.path.join(base, name)))
    for v, d in sorted(dirs):
        data = meta = 0
        files = 0
        for name in os.listdir(d):
            p = os.path.join(d, name)
            if not os.path.isfile(p) or name.startswith("."):
                continue  # checksum files
            if name.startswith("_"):
                meta += os.path.getsize(p)
            else:
                data += os.path.getsize(p)
                files += 1
        yield {"snapshot": base, "version": v, "data_files": files,
               "data_bytes": data, "underscore_bytes": meta, "total_bytes": data + meta}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("records", nargs="*", help="run records or dirs of them")
    ap.add_argument("--snapshot", action="append", default=[],
                    help="a kept snapshot base dir holding v=N version dirs")
    ap.add_argument("--json", action="store_true", help="print one JSON document")
    a = ap.parse_args()
    paths = a.records or ([] if a.snapshot else [".bench_build/runs"])
    runs = [run_line(f, r) for f, r in records(paths)]
    versions = [row for base in a.snapshot for row in version_dirs(base)]
    if a.json:
        json.dump({"runs": runs, "versions": versions}, sys.stdout, indent=1)
        print()
        return
    for r in runs:
        kinds = " ".join("%s=%d" % (k, r["commits"][k]) for k in KINDS)
        print("seed=%d trace=%d commit=%s write_amp=%.3f commits=%d (%s) write_cpu_ms=%.1f "
              "read_cpu_ms=%.1f steal_ms_timed=%.0f" % (
                  r["seed"], r["trace"], r["commit"][:16], r["write_amp"], r["timed_commits"],
                  kinds, r["write_cpu_ms"], r["read_cpu_ms"], r["steal_ms_timed"] or 0))
    for v in versions:
        print("%s v=%d data_files=%d data_bytes=%d underscore_bytes=%d total_bytes=%d" % (
            v["snapshot"], v["version"], v["data_files"], v["data_bytes"],
            v["underscore_bytes"], v["total_bytes"]))


if __name__ == "__main__":
    main()
