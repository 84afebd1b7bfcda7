#!/usr/bin/env python3
"""Re-record perfbench/expected/catalog.json from outputs the DuckDB oracle
has passed.

    python3 perfbench/expected.py

Run it from the repository root, and only for a change that is meant to
change a catalog entry's output. It builds like run.py, dumps every catalog
entry that has an oracle over perfbench/data/sf0.01 with graft.Verify, and
runs tools/check.py (the DuckDB oracle) on the dump. Only when every entry
passes does it write each entry's row count and checksum, computed from the
dump. The sketch entry has no oracle: its expected value is its bound check
passing. perfbench/expected/corpus.json is not written here; see README.md.
"""
import json
import subprocess
import sys
from pathlib import Path

import run


def main():
    root = Path.cwd()
    for need in ("build.sbt", "src/main/scala", "tools/check.py"):
        if not (root / need).exists():
            run.fail(f"run from the repository root: {need} not found in {root}")
    classes, jars, _ = run.build(root)
    work = root / ".bench_work" / "expected"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    data = run.BENCH / "data" / "sf0.01"
    dump = work / "verify"

    def jvm(main_class, args, **kw):
        return subprocess.run(run.java_cmd(classes, jars, work, main_class, args, "4g"),
                              check=True, **kw)

    names = jvm("graft.perfbench.Expected", ["entries"],
                capture_output=True, text=True).stdout.strip()
    jvm("graft.Verify", [str(data), str(dump), names], stdout=sys.stderr)
    if subprocess.run([sys.executable, str(root / "tools/check.py"), str(data), str(dump),
                       names], stdout=sys.stderr).returncode != 0:
        run.fail("the DuckDB oracle rejected the dump: expected values not written")
    out = work / "catalog.json"
    jvm("graft.perfbench.Expected", ["checksums", str(dump), str(work), str(out)],
        stdout=sys.stderr)
    checks = json.loads(out.read_text())
    (run.BENCH / "expected" / "catalog.json").write_text(
        json.dumps(checks, indent=1, sort_keys=True) + "\n")
    print(f"[perfbench] wrote expected checks of {len(checks)} catalog entries",
          file=sys.stderr)


if __name__ == "__main__":
    main()
