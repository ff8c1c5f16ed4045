#!/usr/bin/env python
"""Driver-window rehearsal: the ``tools/verify_vanilla.py`` sweep over
the FIRST N (default 50) queries() entries — exactly the slice the
round driver's correctness check will record.

This is the freeze gate (VERDICT r7 ask #1): after the window is
generated (tools/rotate_window.py) and before round close, this must
print ``WINDOW DONE bad = []`` and exit 0; any query that changes after
that must go back to the front of the window via --changed on the next
rotate_window run.

Run: python tools/check_window.py [N]
Env: SPARK_GRAFT_SWEEP_SF_DIR (default /root/testdata/sf0.01).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.verify_vanilla import setup, sweep


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    spark, con, qs, osql, sf = setup("window")
    bad = sweep(spark, con, qs, osql, list(qs)[:n], sf)
    print("WINDOW DONE bad =", bad, flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
