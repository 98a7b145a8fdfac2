"""Session-config fidelity check: every other test runs on the tuned session
that ``conftest`` builds (UTC session time zone, legacy parquet confs, AQE
tuning). A regression that depends on those confs (``events.ts`` loading as
TIMESTAMP_NTZ once broke sessionize only on a default session) is invisible
there.

This test spawns a FRESH python process (Spark is one JVM per process, so an
in-process "new session" would inherit the tuned SparkContext conf) and runs
the config-sensitive ``tests.oracle_battery`` entries on a plain
``SparkSession.builder.master("local[4]")`` against their DuckDB oracles.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from tests.conftest import SF_DIR_ORACLE

REPO_ROOT = Path(__file__).resolve().parents[1]

# entries whose semantics touch session config: timestamp handling (time
# zone, parquet timestamp flavour) and integer-sum typing
SENSITIVE = [
    "sessionize", "time_features", "as_of_join", "temporal_reshape",
    # partition-count-sensitive mechanism (boundary-independent result):
    # offsets are computed against the session's range partitioning
    "contiguous_ids",
    # seeded-MLlib invariant flags: k-means|| init and MinHashLSH sampling
    # see the session's partitioning, which differs on a default session
    # (shuffle.partitions 200 vs the tuned 32); the flags must hold regardless
    "ann_ivf_kmeans", "minhash_ml_builtin",
    # partitioning-sensitive composition: pack_sequences' bin assignment
    # depends on the session's shuffle partitioning; the invariant flags
    # (capacity, bin lower bound) must hold under ANY partitioning
    "curation_pipeline",
]

_SCRIPT = r"""
import json, sys
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[4]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
import duckdb
from tests.oracle_battery import ORACLES, QUERIES, TABLES
SF = sys.argv[2]
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
out = {}
for name in json.loads(sys.argv[1]):
    sdf = QUERIES[name](spark, SF)
    order_s = sorted(range(len(sdf.columns)), key=lambda i: sdf.columns[i])
    res = con.execute(ORACLES[name])
    cols = [d[0] for d in res.description]
    order_d = sorted(range(len(cols)), key=lambda i: cols[i])
    srows = sorted(tuple(str(r[i]) for i in order_s) for r in sdf.collect())
    drows = sorted(tuple(str(r[i]) for i in order_d) for r in res.fetchall())
    out[name] = {
        "match": srows == drows,
        "spark_rows": len(srows),
        "oracle_rows": len(drows),
    }
print("RESULT:" + json.dumps(out))
"""


@pytest.mark.parametrize(
    "tz",
    [
        # the UTC leg repeats tests/test_oracle_parity.py (same entries on a
        # UTC-pinned session), so it runs only in the full (-m "") profile;
        # the DST-observing zone is the leg that exercises zone portability
        pytest.param("UTC", marks=pytest.mark.slow),
        "America/New_York",
    ],
)
def test_sensitive_queries_match_oracle_on_vanilla_session(tz):
    """Runs in UTC and in a DST-observing zone: the tz-free timestamp
    arithmetic must not depend on the JVM's time zone, and no entry may
    depend on a session-zone pin."""
    env = dict(os.environ, TZ=tz)
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, json.dumps(SENSITIVE), SF_DIR_ORACLE],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=REPO_ROOT,
        env=env,
    )
    assert proc.returncode == 0, f"vanilla-session run failed:\n{proc.stderr[-3000:]}"
    line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT:")]
    assert line, f"no RESULT line in output:\n{proc.stdout[-2000:]}"
    results = json.loads(line[0][len("RESULT:"):])
    bad = {k: v for k, v in results.items() if not v["match"]}
    assert not bad, f"vanilla-session oracle mismatches: {bad}"
    assert set(results) == set(SENSITIVE)
