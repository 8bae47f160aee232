"""Registry + driver-contract smoke tests (the round-1 failure mode:
a wired-looking repo whose registry ImportError'd and whose entry() was a
stub — VERDICT.md 'What's wrong' #1/#2)."""

import __spark_entry__ as entrymod
from spark_kafka_realm_time_data_pipeline_spark.queries import registry

from conftest import SF_DIR


def test_registry_assembles():
    reg = registry()
    assert len(reg) >= 60
    for name, spec in reg.items():
        assert callable(spec.fn), name
        assert spec.oracle is None or isinstance(spec.oracle, str), name


def test_driver_contract_shape():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # the vast majority of queries must carry a value oracle
    assert len(oracles) >= 0.9 * len(qs)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.columns == ["customer", "score", "email", "birthYear"]
    assert df.count() > 0


def test_streaming_family_registered():
    qs = entrymod.queries()
    for name in (
        "streaming_stedi_join",
        "streaming_stedi_unbounded",
        "streaming_window_tumbling",
        "streaming_window_sliding",
        "streaming_late_window",
        "streaming_session_window",
        "streaming_dedup",
        "streaming_dedup_watermark",
    ):
        assert name in qs, name


def test_proven_names_still_exist():
    """Every query the driver has ever proven must still exist under the same
    name — a rename would orphan its green row and shrink real coverage."""
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    reg = registry()
    missing = []
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            rows = json.load(f)
        missing += [f"{os.path.basename(path)}:{n}" for n in rows if n not in reg]
    assert not missing, f"driver-proven names no longer in registry: {missing}"
