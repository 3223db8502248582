"""The oracle queries' scratch directories live under one per-process root
that is removed when the process exits, so runs leave no trees behind."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_scratch_root_removed_at_exit(tmp_path):
    code = (
        "import json, os\n"
        "import __spark_entry__ as e\n"
        "a, b = e._scratch('cdc_q_'), e._scratch('cdc_q_')\n"
        "open(os.path.join(a, 'part.parquet'), 'w').close()\n"
        "assert os.path.isdir(a) and os.path.isdir(b) and a != b\n"
        "print(json.dumps([e._scratch_root(), a, b]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        check=True,
    )
    root, a, b = json.loads(out.stdout.splitlines()[-1])
    assert os.path.dirname(root) == str(tmp_path)
    assert os.path.dirname(a) == os.path.dirname(b) == root
    assert os.path.basename(a).startswith("cdc_q_")
    assert not os.path.exists(root)
