"""Package the engine as engine.zip for spark-submit --py-files
(BASELINE.json:6 'via spark-submit --py-files').

Usage: python scripts/make_pyfiles.py   # writes dist/engine.zip
"""

from __future__ import annotations

import pathlib
import zipfile

ROOT = pathlib.Path(__file__).resolve().parent.parent
DIST = ROOT / "dist"


def build(out_dir: pathlib.Path = DIST) -> pathlib.Path:
    out_dir.mkdir(parents=True, exist_ok=True)
    out = out_dir / "engine.zip"
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted((ROOT / "text_extraction_evaluation_spark").rglob("*.py")):
            z.write(p, p.relative_to(ROOT))
    return out


if __name__ == "__main__":
    print(build())
