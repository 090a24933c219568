"""scripts/scaling_gate.py child-process handling (no SparkSession)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from scaling_gate import run_child


def test_run_child_returns_last_json_line():
    code = "print('{\"a\": 1}'); print('noise'); print('{\"a\": 2}')"
    assert run_child(code, []) == {"a": 2}


def test_run_child_crash_reports_exit_code_and_stderr():
    code = ("import sys\n"
            "for i in range(30):\n"
            "    print(f'line {i}', file=sys.stderr)\n"
            "sys.exit(3)\n")
    with pytest.raises(RuntimeError, match="exited 3") as err:
        run_child(code, ["x"])
    msg = str(err.value)
    assert "line 29" in msg and "line 10" in msg
    assert "line 9\n" not in msg      # only the last 20 stderr lines
