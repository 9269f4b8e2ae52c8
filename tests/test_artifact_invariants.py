"""Round artifacts must stay in lockstep with the query registry
(VERDICT r5 item 7): a forgotten `tools/check_oracle.py --json` refresh
after adding an entry should fail CI loudly instead of shipping a stale
correctness witness."""

from __future__ import annotations

import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _latest_full_artifact() -> Path | None:
    cands = sorted(REPO.glob("CORRECTNESS_full_r*.json"))
    return cands[-1] if cands else None


def test_full_correctness_artifact_covers_every_query():
    art = _latest_full_artifact()
    assert art is not None, "no CORRECTNESS_full_r*.json committed"
    data = json.loads(art.read_text()).get("results", {})

    import sys

    sys.path.insert(0, str(REPO))
    import __spark_entry__ as entrymod

    registered = set(entrymod.queries())
    witnessed = set(data)
    missing = sorted(registered - witnessed)
    assert not missing, (
        f"{art.name} is stale: {len(missing)} registered queries have no "
        f"correctness witness (e.g. {missing[:5]}) — re-run "
        "`python tools/check_oracle.py --json CORRECTNESS_full_r<N>.json`"
    )


#: how tools/check_oracle.py records an entry it could not run because
#: its external fixture is missing; only the dwell1 entries may say so
UNVERIFIED = "unverified: fixture absent"


def _classify(results: dict) -> tuple[list[str], list[str], list[str]]:
    """(green, unverified, bad) entry names. Unverified is a class of
    its own, never green."""
    green, unverified, bad = [], [], []
    for k, v in sorted(results.items()):
        if k.startswith("kg_ref_dwell1_") and v.get("err") == UNVERIFIED:
            unverified.append(k)
        elif (v.get("err") or v.get("rows_match") is False
              or v.get("hash_match") is False):
            bad.append(k)
        else:
            green.append(k)
    return green, unverified, bad


def test_only_dwell1_entries_may_be_unverified():
    ok = {"rows_match": True, "hash_match": True, "err": None}
    unver = {"rows_match": None, "hash_match": None, "err": UNVERIFIED}
    assert _classify({
        "a": ok, "kg_ref_dwell1_degree": unver, "cluster_kmeans": unver,
        "kg_ref_dwell1_topk": {**unver, "err": "spark error: boom"},
    }) == (["a"], ["kg_ref_dwell1_degree"], ["cluster_kmeans", "kg_ref_dwell1_topk"])


def test_full_correctness_artifact_is_green(record_property):
    """Every entry is green except the dwell1 entries recorded as
    unverified; those are reported, never counted green."""
    art = _latest_full_artifact()
    assert art is not None
    payload = json.loads(art.read_text())
    assert payload.get("failures", 1) == 0, (
        f"{art.name} records failures={payload.get('failures')}"
    )
    green, unverified, bad = _classify(payload.get("results", {}))
    assert not bad, f"{art.name} carries non-green entries: {bad[:5]}"
    assert payload.get("unverified", 0) == len(unverified)
    record_property("green", len(green))
    record_property("unverified", len(unverified))
    print(f"{art.name}: {len(green)} green, {len(unverified)} unverified")
