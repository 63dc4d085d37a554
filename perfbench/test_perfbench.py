"""Checks of the benchmark's own parts (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import corpus as cp  # noqa: E402
from perfbench.gate import wrong_turns  # noqa: E402
from perfbench.kernel_phases import kernel_ledger  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _goldens():
    return {("c0", 0): (_md5("a"), False), ("c0", 1): (_md5(""), True),
            ("c1", 0): (_md5("b"), False), ("c2", 0): (_md5("c"), False)}


def _rows(goldens):
    return [(c, t, m, e) for (c, t), (m, e) in goldens.items()]


def test_gate_passes_exact_output():
    g = _goldens()
    assert wrong_turns(_rows(g), g) == 0


def test_gate_fires_on_wrong_text_dropped_and_duplicated_rows():
    g = _goldens()
    rows = _rows(g)
    rows[0] = ("c0", 0, _md5("not a"), False)   # wrong text
    del rows[2]                                 # dropped ("c1", 0)
    rows.append(rows[-1])                       # duplicated ("c2", 0)
    wrong = wrong_turns(rows, g)
    assert wrong == 3
    assert wrong / len(g) > 0


def test_gate_fires_on_parse_error_mismatch_and_unknown_row():
    g = _goldens()
    rows = _rows(g)
    rows[1] = ("c0", 1, _md5(""), False)  # golden expects a parse_error
    rows.append(("c9", 0, _md5("x"), False))
    assert wrong_turns(rows, g) == 2


def test_generator_is_seeded_and_pinned():
    a = cp.generate("mixed_small", 7)
    assert a.content_hash() == cp.generate("mixed_small", 7).content_hash()
    assert a.content_hash() != cp.generate("mixed_small", 8).content_hash()
    assert len(a.conv_ids) == cp.WORKLOADS["mixed_small"][1]
    assert len(set(a.payloads)) == len(cp.SMALL_KINDS + cp.ENCRYPTED_KINDS
                                       + cp.ERROR_KINDS)
    errors = sum(e for _m, e in a.goldens.values())
    assert 0.02 < errors / len(a.goldens) < 0.08


def test_flate_turns_are_distinct_documents():
    c = cp.generate("flate_distinct", 3)
    assert len(set(c.payloads)) == len(c.payloads)


def test_traced_kernel_sequence_matches_extract_text():
    mixed = cp.generate("mixed_small", 1)
    docs = list(dict.fromkeys(mixed.payloads))
    docs += cp.generate("flate_distinct", 1).payloads[:5]
    metrics, mismatches = kernel_ledger(docs, rounds=1)
    assert mismatches == 0
    assert metrics["kernel.docs"] == len(docs)
    assert metrics["kernel.parse_errors"] == len(cp.ERROR_KINDS)


def test_self_time_subtracts_children():
    tr = Tracer("t")
    tr.spans = [
        {"id": 0, "name": "root", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "start": 3.0, "end": 6.0},
    ]
    assert tr.self_times() == {0: 5.0, 1: 3.0, 2: 3.0}


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def test_supervisor_ends_orphaned_descendants(tmp_path):
    """The child exits at once and leaves a sleeping grandchild behind;
    supervise must end it before it returns."""
    pid_file = tmp_path / "pid"
    child = ("import subprocess, sys; p = subprocess.Popen([sys.executable,"
             " '-c', 'import time; time.sleep(60)']);"
             f" open({str(pid_file)!r}, 'w').write(str(p.pid)); sys.exit(3)")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    launcher = ("import sys; from perfbench.supervise import supervise;"
              f" sys.exit(supervise([sys.executable, '-c', {child!r}], {{}},"
              " deadline_s=30, grace_s=2))")
    t = time.monotonic()
    rc = subprocess.run([sys.executable, "-c", launcher], cwd=root).returncode
    assert rc == 3
    assert time.monotonic() - t < 20
    assert not _alive(int(pid_file.read_text()))


def test_supervisor_stops_a_run_past_its_deadline():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    launcher = ("import sys; from perfbench.supervise import supervise;"
              " sys.exit(supervise([sys.executable, '-c',"
              " 'import time; time.sleep(60)'], {}, deadline_s=1,"
              " grace_s=2))")
    t = time.monotonic()
    rc = subprocess.run([sys.executable, "-c", launcher], cwd=root).returncode
    assert rc == 124
    assert time.monotonic() - t < 10
