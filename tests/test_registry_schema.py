"""The registry's oracle-checked queries emit rows the correctness
check can canonicalize and hash: primitive columns only."""

import importlib.util
import os
import time

import duckdb
from pyspark.sql import types as T

from drift_detection_pibic___framework_spark import queries as Q
from drift_detection_pibic___framework_spark.sources import generators as G

# the data directory and tables of the local correctness check
_spec = importlib.util.spec_from_file_location("check_entry", os.path.join(
    os.path.dirname(__file__), "..", "scripts", "check_entry.py"))
CE = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(CE)
NESTED = ("[]", "STRUCT", "MAP", "UNION")


def test_window_oracles_emit_only_primitive_types(spark):
    """Schema only, nothing executed: every DuckDB oracle in the
    registry's checked window (``queries.DRIVER_WINDOW``) binds to
    primitive column types.  The correctness check hashes each query's
    rows against its oracle's, so a query can only pass with the same
    columns; building the Spark frames instead would run the ~10 registry
    queries that compute eagerly (minutes, not seconds)."""
    t0 = time.perf_counter()
    G.ensure_fixtures("sf0.01")          # the clips oracles read it
    con = duckdb.connect()
    for t in CE.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{CE.SF_DIR}/{t}.parquet')")
    checked = [n for n in list(Q.QUERIES)[:Q.DRIVER_WINDOW]
               if n in Q.ORACLES]
    bad = {}
    for name in checked:
        for col, typ, *_ in con.sql(f"DESCRIBE {Q.ORACLES[name]}")\
                .fetchall():
            if any(k in typ for k in NESTED):
                bad.setdefault(name, []).append(f"{col}: {typ}")
    assert len(checked) == 50
    assert bad == {}
    # the query whose list column used to break the canonicalizer
    fd = Q.QUERIES["clips_fd_transcript"](spark, CE.SF_DIR).schema
    assert all(isinstance(f.dataType, T.AtomicType) for f in fd)
    assert time.perf_counter() - t0 < 30
