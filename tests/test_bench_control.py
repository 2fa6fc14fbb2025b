"""``bench._ControlProc``: the persistent control-pass runner protocol."""

from __future__ import annotations

import time

# a stand-in runner: announces readiness, then answers the first request
# with a noise line and the result line in ONE write, and exits when its
# stdin closes
_FAKE_RUNNER = r"""
import sys
sys.stdout.write("CTRLREADY\n")
sys.stdout.flush()
sys.stdin.readline()
sys.stdout.write('noise from the runner\nCTRLRESULT {"ok": 1}\n')
sys.stdout.flush()
sys.stdin.readline()
"""


def test_expect_drains_lines_buffered_in_one_chunk(tmp_path, monkeypatch):
    """A result line that arrives in the same chunk as a noise line must
    be returned at once, not after the deadline: ``select`` only sees
    the pipe, never lines already pulled into the stream's buffer."""
    import bench

    monkeypatch.setattr(bench, "_CONTROL_RUNNER", _FAKE_RUNNER)
    proc = bench._ControlProc(str(tmp_path), "unused")
    try:
        proc.proc.stdin.write("go\n")
        proc.proc.stdin.flush()
        t0 = time.monotonic()
        line = proc._expect("CTRLRESULT ", timeout=10)
        assert line.startswith('CTRLRESULT {"ok": 1}')
        assert time.monotonic() - t0 < 5
    finally:
        proc.close()
