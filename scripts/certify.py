"""Record in CERTIFIED.json the fingerprints of the ops a correctness run
certified.

    git archive <commit> | tar -x -C TREE
    python scripts/certify.py TREE CORRECTNESS_rNN.json

TREE holds the commit the run checked. Every op whose newest certifying
row is in CORRECTNESS_rNN.json gets its fingerprint in TREE as its ledger
entry, so the rounds can be recorded in any order. The fingerprint rule
is the package's ``certification`` module.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from health_etl_pipeline_and_analytics_with_machine_learning_spark import (  # noqa: E402
    certification as C,
)

#: lists TREE's registry as {op: [module, function, oracle]}
_LIST = f"""import json, sys
sys.path.insert(0, sys.argv[1])
import {C.PKG}.operators
from {C.PKG}.operators.registry import REGISTRY
print(json.dumps({{n: [q.fn.__module__, q.fn.__name__, q.oracle] for n, q in REGISTRY.items()}}))
"""


def main(tree: str, runs: str) -> None:
    tree = os.path.abspath(tree)
    rnd = int(re.search(r"r(\d+)\.json$", runs).group(1))
    out = subprocess.run(
        [sys.executable, "-c", _LIST, tree], cwd=tree, capture_output=True, text=True, check=True
    ).stdout
    ops = json.loads(out.splitlines()[-1])
    ledger = {}
    if os.path.exists(C.LEDGER):
        with open(C.LEDGER) as f:
            ledger = json.load(f)
    for op, r in C.certified_rounds().items():
        if r == rnd:
            ledger[op] = C.fingerprint(tree, *ops[op])
    with open(C.LEDGER, "w") as f:
        json.dump(dict(sorted(ledger.items())), f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main(*sys.argv[1:])
