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
