"""Root-script citations resolve (no Spark).

The package docstrings, README.md, bench.py and verify.py point
readers at root ``soak_*.py`` / ``profile_*.py`` / ``bench_*.py``
scripts for measured claims. A script deleted while a citation still
names it leaves the claim unreproducible, so every cited script must
exist at the repo root. SCALE.md, CHANGES.md and VERDICT.md are
history: they may name scripts that have since been deleted.
"""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCRIPT_REF = re.compile(r"\b(?:soak|profile|bench)_\w+\.py\b")


def _citing_files() -> list[Path]:
    files = sorted((ROOT / "timescale_cdc_spark").rglob("*.py"))
    return files + [ROOT / "README.md", ROOT / "bench.py", ROOT / "verify.py"]


def test_cited_root_scripts_exist():
    dangling = sorted(
        f"{path.relative_to(ROOT)}: {name}"
        for path in _citing_files()
        for name in set(SCRIPT_REF.findall(path.read_text(encoding="utf-8")))
        if not (ROOT / name).is_file()
    )
    assert not dangling, dangling
