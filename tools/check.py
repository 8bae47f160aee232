"""Local mirror of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at the given SF and compares to
oracle_sql() via DuckDB: row count, column names, and an order-insensitive
value hash (columns sorted by name, rows sorted, values stringified).

Every query that passes (or runs, when it has no oracle) is recorded in
PROOF_LEDGER.json under its code-closure fingerprint and the corpus name
(tools/proof_ledger.py), which tests/test_proof_freshness.py checks.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from spark_kafka_realm_time_data_pipeline_spark.session import get_spark


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        tuple(_norm(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for row in canon:
        h.update(("\x1f".join(row) + "\x1e").encode())
    return h.hexdigest()[:16]


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _type_tag(v):
    """Collapse a cell value to a type tag.  bool before int (bool is an int
    subclass); everything else by class name."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    return type(v).__name__


def declared_type_problems(ora_cols, decl_types):
    """Flag oracle output columns whose DuckDB *declared* type the driver's
    value renderer distinguishes from Spark's (HUGEINT/DECIMAL vs BIGINT).

    ``fetchall()`` converts HUGEINT to a lossless Python int and DECIMAL to
    Decimal, so the value hash below cannot see them — but the driver CAN,
    and fails the hash even when every cell is numerically identical.  This
    is exactly how r7 shipped two driver-fails (bpe_encode, compaction_plan:
    uncast SUM -> HUGEINT) that were green in this mirror.  Any uncast
    SUM()/window-SUM in an oracle is a latent driver fail: flag it at the
    declaration, before values are even compared."""
    for c, t in zip(ora_cols, decl_types):
        if "HUGEINT" in t or "DECIMAL" in t:
            yield f"oracle-decl[{c}]={t} (cast to BIGINT/DOUBLE)"


def type_parity_problems(rows, cols, ora_rows, ora_cols):
    """Per-column output-type comparison between the Spark and oracle result
    sets.  The driver's value hash preserves the int/float distinction
    (Spark BIGINT renders '3' where DuckDB DOUBLE/HUGEINT renders '3.0'),
    which _norm's %.10g float normalization masks — so a query can pass this
    mirror's hash yet fail the driver's.  This check closes that gap: the
    set of non-null Python types in each column must match exactly."""
    def col_tags(rws, cls):
        tags = {c: set() for c in cls}
        for r in rws:
            for c, v in zip(cls, r):
                t = _type_tag(v)
                if t is not None:
                    tags[c].add(t)
        return tags

    st, ot = col_tags(rows, cols), col_tags(ora_rows, ora_cols)
    problems = []
    for c in sorted(set(st) & set(ot)):
        if st[c] != ot[c]:
            problems.append(
                f"type[{c}] {sorted(st[c]) or 'all-null'} vs {sorted(ot[c]) or 'all-null'}"
            )
    return problems


def main():
    import proof_ledger
    from closure_fp import registry_fingerprints

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    unknown = only - set(qs)
    if unknown:
        print(f"ERROR: unknown query name(s): {sorted(unknown)}")
        return 2
    # fingerprint the code before running it: a source edit made during the
    # run must not be credited with this run's proofs
    closure_fps = registry_fingerprints()

    proven = []
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception:
            print(f"FAIL  {name}: spark ERROR")
            traceback.print_exc()
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(rows)} rows ({dt:.1f}s) [rows-only]")
            proven.append(name)
            n_rows_only += 1
            continue
        try:
            rel = con.sql(oracles[name])
            ora_cols = list(rel.columns)
            decl_types = [str(t).upper() for t in rel.types]
            ora_rows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: oracle ERROR {e}")
            n_fail += 1
            continue
        problems = list(declared_type_problems(ora_cols, decl_types))
        if len(rows) != len(ora_rows):
            problems.append(f"rowcount {len(rows)} vs {len(ora_rows)}")
        if sorted(cols) != sorted(ora_cols):
            problems.append(f"schema {sorted(cols)} vs {sorted(ora_cols)}")
        if not problems:
            problems.extend(type_parity_problems(rows, cols, ora_rows, ora_cols))
        if not problems:
            hs, ho = value_hash(rows, cols), value_hash(ora_rows, ora_cols)
            if hs != ho:
                problems.append(f"hash {hs} vs {ho}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} ({dt:.1f}s)")
            n_fail += 1
        else:
            print(f"pass  {name} ({len(rows)} rows, {dt:.1f}s)")
            proven.append(name)
            n_pass += 1
    # re-read right before writing: the ledger may have changed during the run
    ledger = proof_ledger.record(
        proof_ledger.load(), proven, closure_fps, os.path.basename(os.path.normpath(sf_dir))
    )
    proof_ledger.save(ledger)
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
