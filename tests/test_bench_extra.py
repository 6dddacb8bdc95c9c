"""bench_extra.hoststate reads vmstat by column name, not by position."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench_extra import vmstat_columns  # noqa: E402

# procps-ng 3.x: the cpu block ends with `st`
VMSTAT_3 = """\
procs -----------memory---------- ---swap-- -----io---- -system-- ------cpu-----
 r  b   swpd   free   buff  cache   si   so    bi    bo   in   cs us sy id wa st
 2  0      0 11870844  82196 1453988    0    0    77   100  488  873 34  7 56  0  3
 1  0      0 11870844  82196 1453988    0    0     0     4 1056 1001 26  1 69  0  4
"""

# procps-ng 4.x appends the guest-time column `gu` after `st`
VMSTAT_4 = """\
procs -----------memory---------- ---swap-- -----io---- -system-- -------cpu-------
 r  b   swpd   free   buff  cache   si   so    bi    bo   in   cs us sy id wa st gu
 2  0      0 11870844  82196 1453988    0    0    77   100  488  873 34  7 56  0  3  0
 1  0      0 11870844  82196 1453988    0    0     0     4 1056 1001 26  1 69  0  4  0
"""


def test_vmstat_columns_without_guest_column():
    vm = vmstat_columns(VMSTAT_3)
    assert (vm["id"], vm["st"], vm["us"]) == (69, 4, 26)
    assert "gu" not in vm


def test_vmstat_columns_with_guest_column():
    vm = vmstat_columns(VMSTAT_4)
    assert (vm["id"], vm["st"], vm["gu"], vm["us"]) == (69, 4, 0, 26)
