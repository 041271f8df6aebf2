"""Session sizing: with ``SPARK_GRAFT_CPUS`` unset, ``DEFAULT_CPUS``
follows the cores this process may run on, so shuffle partitions and
the driver heap are never sized for a bigger host.

Runs in a SUBPROCESS: ``DEFAULT_CPUS`` is read at import, and reloading
the module in-process would re-size it under the suite's live session.
"""

from __future__ import annotations

import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Pin the child to ONE allowed core before the import: the expected
# value then differs from os.cpu_count() on any multi-core host.
_SCRIPT = """
import os
os.sched_setaffinity(0, {min(os.sched_getaffinity(0))})
from frauddetection_spark.session import DEFAULT_CPUS
print(DEFAULT_CPUS)
"""


def test_default_cpus_follows_affinity_when_unset():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd=_REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    assert int(out.stdout.strip().splitlines()[-1]) == 1
