"""Self-test: a corrupted expected digest must fail the benchmark run.

    python3 perfbench/selftest.py

Copies ``digests.json`` with the ``weekly_report`` digest altered, points
the benchmark at the copy through ``PERFBENCH_DIGESTS``, runs
``report_dashboard`` on the default seed and expects a non-zero exit with
``"correct": false`` on the last line. Exits 0 when the check bites.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main() -> int:
    digests = json.loads((HERE / "digests.json").read_text())
    digests["weekly_report"] = "0" * len(digests["weekly_report"])
    work = ROOT / ".perfbench"
    work.mkdir(exist_ok=True)
    corrupted = work / "digests-corrupted.json"
    corrupted.write_text(json.dumps(digests))

    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", "report_dashboard",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True,
        env={**os.environ, "PERFBENCH_DIGESTS": str(corrupted)},
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    bites = proc.returncode != 0 and result.get("correct") is False
    print("\n".join(line for line in lines if "digest" in line))
    print(f"selftest: exit {proc.returncode}, correct={result.get('correct')}: "
          + ("the corrupted digest failed the run" if bites else "THE CHECK DID NOT BITE"))
    return 0 if bites else 1


if __name__ == "__main__":
    sys.exit(main())
