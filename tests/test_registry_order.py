"""The order ``__spark_entry__.queries()`` lists the ops in: an external
correctness run checks only a prefix of it, so ops changed since their
last certification lead, then the oldest certified
(``certification.correctness_order``)."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest

import __spark_entry__ as E
from health_etl_pipeline_and_analytics_with_machine_learning_spark import (
    certification as C,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
    REGISTRY,
)


def _fp(name: str, root: str = C.ROOT) -> str:
    rq = REGISTRY[name]
    return C.fingerprint(root, rq.fn.__module__, rq.fn.__name__, rq.oracle)


def _by_age(names) -> list[str]:
    rounds = C.certified_rounds()
    return sorted(names, key=lambda n: (rounds.get(n, 0), n))


@pytest.fixture
def write_ledger(tmp_path, monkeypatch):
    """Point the order at a ledger under ``tmp_path``."""
    path = tmp_path / "CERTIFIED.json"
    monkeypatch.setattr(C, "LEDGER", str(path))
    return lambda ledger: path.write_text(json.dumps(ledger))


def test_every_registered_query_has_fn_and_consistent_oracle_keys():
    # every op exactly once; the oracle keys are a subset
    order = C.correctness_order()
    assert len(order) == len(set(order)) == len(REGISTRY)
    q, o = E.queries(), E.oracle_sql()
    assert list(q) == order and set(q) == set(REGISTRY)
    assert set(o) <= set(q)
    for name, sql in o.items():
        assert sql and sql.strip(), name


def test_unchanged_ops_run_oldest_certified_first(write_ledger):
    write_ledger({n: _fp(n) for n in REGISTRY})
    assert C.correctness_order() == _by_age(REGISTRY)


def test_changed_ops_lead_the_order(write_ledger):
    ledger = {n: _fp(n) for n in REGISTRY}
    changed = ["zscore_normalize", "tpch_q1"]
    ledger["zscore_normalize"] = "0" * 40
    del ledger["tpch_q1"]  # never certified counts as changed
    write_ledger(ledger)
    order = C.correctness_order()
    assert order[:2] == _by_age(changed)
    assert order[2:] == _by_age(set(REGISTRY) - set(changed))


def test_failed_and_errored_rows_do_not_certify(monkeypatch):
    early = os.path.join(C.ROOT, "CORRECTNESS_r0[1-5].json")
    rows = [
        (int(f[-7:-5]), op, row)
        for f in glob.glob(early)
        for op, row in json.load(open(f)).items()
    ]
    failed = [(r, op) for r, op, row in rows if row["hash_match"] is not True or row["err"]]
    assert sum(1 for *_, row in rows if row["err"]) == 16
    assert sum(1 for *_, row in rows if row["hash_match"] is False) == 4

    monkeypatch.setattr(C, "RUNS", early)
    rounds = C.certified_rounds()
    assert all(rounds.get(op) != r for r, op in failed)
    monkeypatch.setattr(C, "RUNS", os.path.join(C.ROOT, "CORRECTNESS_r0[23].json"))
    rounds = C.certified_rounds()
    assert "similarity_ivf_topk" not in rounds  # errored in both
    assert rounds["eq_filter_group_agg"] == 2  # errored in r03


def test_fingerprint_ignores_comments_and_docstrings_but_not_helper_code(tmp_path):
    op = "salted_skew_agg"  # reaches registry.load
    shutil.copytree(
        os.path.join(C.ROOT, C.PKG), tmp_path / C.PKG,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    reg = tmp_path / C.PKG / "operators" / "registry.py"
    src = reg.read_text()
    before = _fp(op, str(tmp_path))
    assert before == _fp(op)

    ret = '    return events_ts(df) if table == "events" else df\n'
    doc = "Read one of the driver's parquet tables"
    assert ret in src and doc in src
    for edit in (src.replace(ret, "    # a comment\n" + ret), src.replace(doc, "Read a table")):
        reg.write_text(edit)
        assert _fp(op, str(tmp_path)) == before

    reg.write_text(src.replace(ret, ret.replace('== "events"', 'in ("events",)')))
    assert _fp(op, str(tmp_path)) != before


def test_every_op_has_a_certifying_row_or_leads_the_order():
    rounds = C.certified_rounds()
    with open(C.LEDGER) as f:
        ledger = json.load(f)
    changed = {n for n in REGISTRY if _fp(n) != ledger.get(n)}
    assert {n for n in REGISTRY if n not in rounds} <= changed
    assert set(C.correctness_order()[: len(changed)]) == changed
