"""PROOF_LEDGER.json — the query proofs `tools/check.py` records, and the
pure staleness check `tests/test_proof_freshness.py` enforces.

The ledger maps query name -> {closure_fp, sf}: the code-closure
fingerprint (tools/closure_fp.py) the query had when `tools/check.py`
last proved it green (hash-equal to its DuckDB oracle, or rows-only for
the one query without an oracle), and the corpora it was proved on at
that fingerprint.  A query is stale — and the gate fails — when it has no
entry, when its current fingerprint differs from the recorded one, or
when the recorded proofs do not cover every corpus in PROOF_SFS.

Re-prove the stale names (printed by ``python tools/proof_ledger.py``)
on both corpora, one run after the other:

  python tools/check.py $TESTDATA/sf0.001 <name ...>
  python tools/check.py $TESTDATA/sf0.01 <name ...>
"""

from __future__ import annotations

import json
import os
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER = os.path.join(ROOT, "PROOF_LEDGER.json")

PROOF_SFS = ("sf0.001", "sf0.01")


def load() -> dict:
    if os.path.exists(LEDGER):
        with open(LEDGER) as fh:
            return json.load(fh)
    return {}


def save(ledger: dict) -> None:
    """Replace the file atomically: a killed run leaves the old ledger."""
    fd, tmp = tempfile.mkstemp(dir=ROOT, prefix=".proof_ledger_", suffix=".json")
    with os.fdopen(fd, "w") as fh:
        json.dump(ledger, fh, indent=1, sort_keys=True)
        fh.write("\n")
    os.replace(tmp, LEDGER)


def record(ledger: dict, passed, closure_fps: dict[str, str], sf: str) -> dict:
    """Fold one green run into ``ledger`` (returned, not mutated).  A proof
    at a new fingerprint replaces the entry — proofs of older code say
    nothing about this code — and a proof at the same fingerprint adds
    ``sf`` to the corpora already covered."""
    out = dict(ledger)
    for name in passed:
        fp = closure_fps[name]
        ent = ledger.get(name)
        sfs = set(ent["sf"]) if ent and ent["closure_fp"] == fp else set()
        out[name] = {"closure_fp": fp, "sf": sorted(sfs | {sf})}
    return out


def stale_names(ledger: dict, closure_fps: dict[str, str]) -> dict[str, str]:
    """{name: reason} for every query without a green proof of its
    current code on every corpus in PROOF_SFS."""
    out: dict[str, str] = {}
    for name, fp in closure_fps.items():
        ent = ledger.get(name)
        if ent is None:
            out[name] = "no recorded proof"
        elif ent["closure_fp"] != fp:
            out[name] = "code closure changed since proof"
        elif missing := sorted(set(PROOF_SFS) - set(ent["sf"])):
            out[name] = f"not proven on {', '.join(missing)}"
    return out


if __name__ == "__main__":
    from closure_fp import registry_fingerprints

    for name, reason in sorted(stale_names(load(), registry_fingerprints()).items()):
        print(f"{name}: {reason}")
