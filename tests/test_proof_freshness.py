"""The proof-freshness gate (VERDICT r15 item 2).

Two rounds running, a query's code changed AFTER its newest proof: r14
changed the shared `containment_pairs` pipeline while `dedup_containment`
/ `dedup_keep_containment` were last proven at r13; r15 rewrote the jpeg
decoder module (+941 lines) while `multimodal_jpeg_stats` /
`multimodal_jpeg_color` were last proven at r13/r14.  This file closes
that hole:

- `tools/check.py` records each green query's code-closure fingerprint
  (tools/closure_fp.py) and corpus in PROOF_LEDGER.json;
- `test_every_query_is_proven_at_its_current_code` recomputes the closure
  fingerprints live and requires every registered query to have a
  recorded green proof of that exact code on both corpora;
- `test_gate_catches_the_r14_and_r15_incidents` replays both prior
  incidents' exact shapes through the pure checker and asserts each would
  have failed CI.
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from proof_ledger import PROOF_SFS, load, record, stale_names  # noqa: E402


def test_every_query_is_proven_at_its_current_code():
    """Every registered query whose CURRENT code-closure fingerprint
    (salted with session.py) has no green tools/check.py proof on every
    corpus in PROOF_SFS fails the gate.  Fix on failure: run the printed
    commands (one after the other); after a session.py change every
    fingerprint flips, so re-prove the full registry (no name filter)."""
    from closure_fp import registry_fingerprints

    stale = stale_names(load(), registry_fingerprints())
    names = " ".join(sorted(stale))
    assert not stale, (
        f"{len(stale)} queries without a green proof of their current code; "
        "re-prove them, one run after the other:\n"
        + "\n".join(
            f"  python tools/check.py $TESTDATA/{sf} {names}" for sf in PROOF_SFS
        )
    )


def test_gate_catches_the_r14_and_r15_incidents():
    """Replay of the two shipped staleness incidents:

    r14: `containment_pairs` (operators/dedup.py) gained a rank-stage
    count-window and a verify semi-filter — a CODE change for
    `dedup_containment`, whose newest proof (r13) predated it.

    r15: the jpeg decoder module gained DRI/SOF2 branches — a CODE change
    reachable from `multimodal_jpeg_stats`'s mapInPandas batch whose PLAN
    stayed byte-identical, which is why the gate hashes the code closure
    and not the plan.

    Both must be flagged, as must a never-proven query and a query proven
    on only one corpus."""
    both = list(PROOF_SFS)
    ledger = {
        "dedup_containment": {"closure_fp": "aaaa", "sf": both},
        "multimodal_jpeg_stats": {"closure_fp": "cccc", "sf": both},
        "untouched_query": {"closure_fp": "ffff", "sf": both},
        "half_proven": {"closure_fp": "eeee", "sf": ["sf0.001"]},
    }
    current_closure = {
        "dedup_containment": "aaa2",     # r14: pipeline code changed
        "multimodal_jpeg_stats": "ccc2",  # r15: decoder module changed
        "untouched_query": "ffff",
        "half_proven": "eeee",
        "brand_new": "zzzz",
    }
    assert stale_names(ledger, current_closure) == {
        "dedup_containment": "code closure changed since proof",
        "multimodal_jpeg_stats": "code closure changed since proof",
        "half_proven": "not proven on sf0.01",
        "brand_new": "no recorded proof",
    }


def test_record_resets_on_new_code_and_accumulates_corpora():
    """A proof of new code replaces the entry (its older corpora proved
    other code); a proof of the same code adds the corpus; names the run
    did not prove are left alone, and the input ledger is not mutated."""
    ledger = {
        "changed": {"closure_fp": "old", "sf": ["sf0.001", "sf0.01"]},
        "same": {"closure_fp": "keep", "sf": ["sf0.001"]},
        "other": {"closure_fp": "x", "sf": ["sf0.01"]},
    }
    fps = {"changed": "new", "same": "keep", "other": "y", "fresh": "f"}
    out = record(ledger, ["changed", "same", "fresh"], fps, "sf0.01")
    assert out == {
        "changed": {"closure_fp": "new", "sf": ["sf0.01"]},
        "same": {"closure_fp": "keep", "sf": ["sf0.001", "sf0.01"]},
        "other": {"closure_fp": "x", "sf": ["sf0.01"]},
        "fresh": {"closure_fp": "f", "sf": ["sf0.01"]},
    }
    assert ledger["same"]["sf"] == ["sf0.001"]


def test_session_config_change_flips_every_fingerprint():
    """session.py shapes every query's plan (AQE, shuffle partitions,
    state-store provider) without appearing in any code closure — the
    one plan-changes-without-code-change vector this repo has.  The
    registry fingerprints are salted with session.py's source, so a
    config edit flips them all and forces a full-registry check.py re-proof
    on both corpora."""
    from closure_fp import closure_fingerprint

    from spark_kafka_realm_time_data_pipeline_spark.queries import registry

    spec = registry()["nation_revenue"]
    a = closure_fingerprint(spec.fn, spec.oracle, salt="session-v1")
    b = closure_fingerprint(spec.fn, spec.oracle, salt="session-v2")
    assert a != b


def test_closure_fingerprint_tracks_transitive_callees(tmp_path):
    """Live sensitivity proof: the closure fingerprint flips when a
    TRANSITIVELY-called helper's source changes (the r15 incident shape:
    registry fn -> extractor -> decoder), and stays put when unrelated
    code in the same module changes."""
    import importlib.util

    from closure_fp import closure_fingerprint

    def load(version_dir, body):
        pkg = version_dir / "minipkg"
        pkg.mkdir(parents=True)
        (pkg / "__init__.py").write_text("")
        (pkg / "ops.py").write_text(body)
        (pkg / "q.py").write_text(
            "from . import ops\n"
            "def query():\n"
            "    return ops.extract()\n"
        )
        spec = importlib.util.spec_from_file_location(
            f"minipkg_{version_dir.name}", pkg / "__init__.py",
            submodule_search_locations=[str(pkg)],
        )
        mod = importlib.util.module_from_spec(spec)
        sys.modules[spec.name] = mod
        spec.loader.exec_module(mod)
        qspec = importlib.util.spec_from_file_location(
            f"{spec.name}.q", pkg / "q.py"
        )
        q = importlib.util.module_from_spec(qspec)
        opsspec = importlib.util.spec_from_file_location(
            f"{spec.name}.ops", pkg / "ops.py"
        )
        ops = importlib.util.module_from_spec(opsspec)
        sys.modules[opsspec.name] = ops
        opsspec.loader.exec_module(ops)
        q.ops = ops
        qspec.loader.exec_module(q)
        return q.query

    v1 = (
        "def decode(x):\n    return x + 1\n\n"
        "def extract():\n    return decode(1)\n\n"
        "def unrelated():\n    return 'a'\n"
    )
    # v2: the transitive DECODER changed; extract() and query() unchanged
    v2 = v1.replace("return x + 1", "return x + 2")
    # v3: only code unreachable from query() changed
    v3 = v1.replace("return 'a'", "return 'b'")

    # fingerprints embed module names, so load every version under a
    # distinct import name but normalize the recorded module names to a
    # shared prefix — only SOURCE differences affect the hash
    fps2 = {}
    for tag, body in (("v1", v1), ("v2", v2), ("v3", v3)):
        d = tmp_path / ("same_" + tag)
        fn = load(d, body)
        mod = sys.modules[f"minipkg_same_{tag}.ops"]
        fn.__module__ = "minipkg_X.q"
        for v in vars(mod).values():
            if callable(v):
                v.__module__ = "minipkg_X.ops"
        mod.__name__ = "minipkg_X.ops"
        fps2[tag] = closure_fingerprint(fn, oracle=None, pkg="minipkg_X")
    assert fps2["v1"] != fps2["v2"], "transitive callee change must flip fp"
    assert fps2["v1"] == fps2["v3"], "unreachable change must not flip fp"


def test_function_body_import_is_absorbed(tmp_path):
    """Replay of the r17 blind-spot incident: a query that reaches a
    helper ONLY through a function-BODY relative import
    (``from .helpers import helper`` inside the function) must still
    absorb the helper's source into its fingerprint.  Before the
    IMPORT_NAME fix, the name resolved against module globals only, so
    three streaming twins' fingerprints survived a staging-helper
    refactor unchanged — exactly the staleness class the gate exists
    to catch."""
    import importlib

    from closure_fp import closure_fingerprint

    fps = {}
    for tag, body in (
        ("v1", "def helper():\n    return 1\n"),
        ("v2", "def helper():\n    return 2\n"),
    ):
        name = f"minipkg_fb{tag}"
        pkg = tmp_path / name
        pkg.mkdir()
        (pkg / "__init__.py").write_text("")
        (pkg / "helpers.py").write_text(body)
        (pkg / "q.py").write_text(
            "def query():\n"
            "    from .helpers import helper\n"
            "    return helper()\n"
        )
        sys.path.insert(0, str(tmp_path))
        try:
            q = importlib.import_module(f"{name}.q")
            # the function-body import has not run, so helpers is not yet
            # in sys.modules — mirror production, where the walker's
            # sys.modules-first resolution finds package modules already
            # imported by the registry, by importing it here
            importlib.import_module(f"{name}.helpers")
        finally:
            sys.path.remove(str(tmp_path))
        # normalize module identity to a shared prefix (as above) so only
        # SOURCE differences affect the hash; alias the helpers module
        # under the normalized name so the import resolution finds it
        h = sys.modules[f"{name}.helpers"]
        q.query.__module__ = "minipkg_X.q"
        h.__name__ = "minipkg_X.helpers"
        for v in vars(h).values():
            if callable(v):
                v.__module__ = "minipkg_X.helpers"
        sys.modules["minipkg_X.helpers"] = h
        try:
            fps[tag] = closure_fingerprint(q.query, oracle=None, pkg="minipkg_X")
        finally:
            del sys.modules["minipkg_X.helpers"]
    assert fps["v1"] != fps["v2"], (
        "a helper reached only via a function-body import must be part "
        "of the closure fingerprint"
    )


def test_oracle_change_flips_fingerprint():
    """A changed DuckDB oracle needs a re-proof exactly like changed code
    (the r7 HUGEINT incident class): the oracle text is part of the
    fingerprint."""
    from closure_fp import closure_fingerprint

    from spark_kafka_realm_time_data_pipeline_spark.queries import registry

    spec = registry()["nation_revenue"]
    a = closure_fingerprint(spec.fn, spec.oracle)
    b = closure_fingerprint(spec.fn, spec.oracle + " -- edited")
    assert a != b


def test_plan_fingerprint_normalizes_ids_paths_and_stats():
    """The plan fingerprint must survive expression-id renumbering,
    corpus path changes, and statistics drift (else every corpus
    regeneration would mass-flag the registry) while flipping on a real
    shape change."""
    from plan_audit import plan_fingerprint

    a = (
        "*(2) HashAggregate(keys=[l_returnflag#123], functions=[sum(x#4L)])\n"
        "+- Exchange hashpartitioning(l_returnflag#123, 32), plan_id=7\n"
        "   +- FileScan parquet [x#4L] Location: InMemoryFileIndex"
        " [/root/testdata/sf0.01/lineitem.parquet], Statistics(sizeInBytes=1.2 MiB)"
    )
    b = (
        "*(2) HashAggregate(keys=[l_returnflag#9], functions=[sum(x#77L)])\n"
        "+- Exchange hashpartitioning(l_returnflag#9, 32), plan_id=42\n"
        "   +- FileScan parquet [x#77L] Location: InMemoryFileIndex"
        " [/root/testdata/sf1/lineitem.parquet], Statistics(sizeInBytes=88.0 GiB)"
    )
    c = a.replace("HashAggregate", "SortAggregate")
    assert plan_fingerprint(a) == plan_fingerprint(b)
    assert plan_fingerprint(a) != plan_fingerprint(c)
