"""The oracle gate script rejects query names it does not know."""

import os
import subprocess
import sys

SCRIPT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "scripts", "check_correctness.py")


def test_unknown_query_name_fails_before_running_anything():
    r = subprocess.run([sys.executable, SCRIPT, "geo_qi", "geo_qii"],
                       capture_output=True, text=True, timeout=300)
    assert r.returncode != 0
    assert r.stderr.strip().endswith("unknown query name(s): geo_qii")
    assert r.stdout == ""  # geo_qi did not run either


def test_geo_aoi_metrics_oracle_is_deterministic():
    """The oracle must not evaluate the span JSON of media spans: DuckDB
    may run a predicate before the ``s.kind = 'text'`` filter, and a
    media span's empty text is not JSON."""
    import duckdb

    import __spark_entry__ as E

    sql = E.oracle_sql()["geo_aoi_metrics"]
    results = []
    for _ in range(40):
        con = duckdb.connect()
        try:
            results.append(sorted(con.execute(sql).fetchall()))
        finally:
            con.close()
    assert results[0]
    assert all(r == results[0] for r in results)
