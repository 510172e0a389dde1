"""Driver-contract regression test: every ``__spark_entry__.queries()`` entry
must run on a VANILLA SparkSession (no repo confs).

Round-1 lesson: the driver harness builds its own bare session and calls
``queries()`` directly, so any conf set only in ``session.py``'s builder
(e.g. ``spark.sql.legacy.parquet.nanosAsLong``) never applies there — 11
queries died with PARQUET_TYPE_ILLEGAL while every local check passed.

The vanilla session must be built in a SUBPROCESS: ``getOrCreate()`` inside
the pytest JVM would silently reuse the repo-configured session and defeat
the test.
"""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

_SCRIPT = r"""
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .appName("entry-contract")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as entry_mod

out = {{}}
for name, fn in entry_mod.queries().items():
    try:
        df = fn(spark, "/root/testdata/sf0.001")
        out[name] = {{"rows": df.count(), "cols": df.columns}}
    except Exception as e:  # noqa: BLE001
        out[name] = {{"err": f"{{type(e).__name__}}: {{e}}"[:500]}}

# entry() itself must also run and return a collectable DataFrame
try:
    edf = entry_mod.entry(spark)
    out["__entry__"] = {{"rows": len(edf.collect()), "cols": edf.columns}}
except Exception as e:  # noqa: BLE001
    out["__entry__"] = {{"err": f"{{type(e).__name__}}: {{e}}"[:500]}}

print("RESULT_JSON:" + json.dumps(out))
"""


def test_all_queries_run_on_vanilla_session():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=str(REPO))],
        capture_output=True,
        text=True,
        timeout=1200,
        cwd=str(REPO),
    )
    marker = "RESULT_JSON:"
    line = next(
        (l for l in proc.stdout.splitlines() if l.startswith(marker)), None
    )
    assert line is not None, (
        f"subprocess produced no result\nstdout:\n{proc.stdout[-3000:]}"
        f"\nstderr:\n{proc.stderr[-3000:]}"
    )
    results = json.loads(line[len(marker):])
    errs = {k: v["err"] for k, v in results.items() if "err" in v}
    assert not errs, f"queries failed on vanilla session: {json.dumps(errs, indent=2)}"
    # guard against the registry silently shrinking
    assert len(results) >= 39, f"only {len(results)} queries registered"
    assert results["__entry__"]["rows"] > 0


# sha256 of the newline-joined registry names in declared order.
# Correctness sampling over the entry contract takes the head of the
# registry, so a change to this digest moves which queries it gates.
REGISTRY_ORDER_SHA256 = (
    "aad9e850e81049beab3892835d96c6bd497f1e1662ebe773d082ec2d78cf57f5"
)


def test_registry_order_is_pinned():
    from gmall_flink_yb_spark.queries import ORACLES, QUERIES

    assert len(QUERIES) == 119
    assert list(ORACLES) == list(QUERIES)
    digest = hashlib.sha256("\n".join(QUERIES).encode()).hexdigest()
    assert digest == REGISTRY_ORDER_SHA256
