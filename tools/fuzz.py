#!/usr/bin/env python3
"""Randomized differential gate: compare graft.Fuzz output (seeded random
queries run on the Spark engine) against DuckDB running the paired SQL on
the same sf tables, and write a round artifact (FUZZ_r{N}.json).

The Spark side must have run first:
    sbt "Test/runMain graft.Fuzz <sfdir> <outdir> [n] [seed0]"
Then:
    python3 tools/fuzz.py <sfdir> <outdir> <artifact.json>

Reuses tools/check.py (Fuzz emits Verify-shaped output) and wraps its
per-query report in a summary the round record keeps.
"""
import json, os, subprocess, sys, tempfile

if len(sys.argv) != 4:
    sys.exit("usage: tools/fuzz.py <sfdir> <outdir> <artifact.json> "
             "(the artifact path is required)")
sfdir, outdir, artifact = sys.argv[1:]

here = os.path.dirname(os.path.abspath(__file__))
detail = tempfile.mktemp(suffix=".json")
proc = subprocess.run(
    [sys.executable, os.path.join(here, "check.py"), sfdir, outdir, detail],
    capture_output=True, text=True)
sys.stdout.write(proc.stdout)
sys.stderr.write(proc.stderr)

report = json.load(open(detail)) if os.path.exists(detail) else {}
manifest = {}
mpath = os.path.join(outdir, "fuzz_manifest.json")
if os.path.exists(mpath):
    manifest = json.load(open(mpath))

fails = sorted(n for n, r in report.items() if not r.get("hash_match"))
spark_errors = manifest.get("spark_errors", {})
summary = {
    "generator_version": manifest.get("generator_version"),
    "sf_dir": sfdir,
    "seed0": manifest.get("seed0"),
    "n_queries": manifest.get("n", len(report)),
    "n_compared": len(report),
    "n_pass": len(report) - len(fails),
    "n_fail": len(fails),
    "failing": fails,
    "spark_errors": spark_errors,
    "shapes": manifest.get("shapes"),
    "per_query": report,
}
with open(artifact, "w") as fh:
    json.dump(summary, fh, indent=2, sort_keys=True)
ok = not fails and not spark_errors and len(report) >= 1
print(f"[fuzz] {summary['n_pass']}/{summary['n_compared']} matched; "
      f"{len(spark_errors)} spark-side errors -> {artifact}")
sys.exit(0 if ok else 1)
