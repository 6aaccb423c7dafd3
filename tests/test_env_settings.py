"""The package reads the environment only for deployment settings.

Tier thresholds are module constants (tests switch tiers with
``monkeypatch.setattr``); an env var that only tests set is a tuning
knob no deployment exercises, so this pin keeps new ones out."""

from __future__ import annotations

import re
from pathlib import Path

import datawarehouse_backup_system_spark as pkg

_DEPLOYMENT_SETTINGS = {
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_MASTER",
}


def test_env_reads_only_deployment_settings_in_session():
    root = Path(pkg.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        for line in path.read_text().splitlines():
            if re.search(r"os\.environ|getenv", line):
                hits.append((path.relative_to(root).as_posix(), line))
    assert hits, "session.py reads its deployment settings from the env"
    for where, line in hits:
        assert where == "session.py", (where, line)
        m = re.search(r"""(?:environ\.get|getenv)\(\s*["'](\w+)["']""", line)
        assert m and m.group(1) in _DEPLOYMENT_SETTINGS, line
