"""The ladder scripts' report logic (BENCH/decompose.py), fed
synthetic run_scaling RESULT rows — no Spark."""

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH")
)

import decompose  # noqa: E402


def _row(secs, sweep_jobs, phases, load):
    return {
        "op": "slm", "secs": secs, "q": 0.5, "sweeps": len(sweep_jobs),
        "sweep_jobs": sweep_jobs, "phases": phases,
        "loadavg_1m_start": load, "loadavg_1m_end": load + 1,
    }


def _table(text):
    """component name → (t@8c, t@32c, serial s) from the markdown table."""
    out = {}
    for line in text.splitlines():
        cells = [c.strip() for c in line.strip("|").split("|")]
        if len(cells) == 6 and cells[0] not in ("component", "---"):
            out[cells[0]] = tuple(float(c) for c in cells[1:4])
    return out


def test_decompose_report_from_two_rows():
    r8 = _row(40.0, [[0, 4.0], [0, 6.0], [1, 2.0]],
              [[-1, "setup", 3.0], [0, "split_kernel", 5.0], [1, "split_kernel", 1.0]],
              0.5)
    r32 = _row(16.0, [[0, 1.5], [0, 2.0], [1, 1.0]],
               [[-1, "setup", 2.0], [0, "split_kernel", 2.0], [1, "split_kernel", 1.0]],
               0.25)
    text = decompose.report(2000, 10000, r8, r32)
    t = _table(text)
    # serial column s = (4·t32 − t8)/3
    assert t["LM sweep jobs (all levels)"] == (12.0, 4.5, 2.0)
    assert t["level 0 (2/2 sweeps)"] == pytest.approx((10.0, 3.5, 1.3))
    assert t["level 1 (1/1 sweeps)"] == pytest.approx((2.0, 1.0, 0.7))
    assert t["phase setup"] == pytest.approx((3.0, 2.0, 1.7))
    assert t["phase split_kernel"] == (6.0, 3.0, 2.0)
    assert t["uninstrumented driver glue"] == (19.0, 6.5, 2.3)
    assert t["TOTAL"] == (40.0, 16.0, 8.0)
    assert "bit-identical" in text
    assert "local[8] 0.50/1.50" in text
