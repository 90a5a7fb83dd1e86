"""Build dist/engine.zip for spark-submit --py-files, and
dist/spark-defaults.conf for spark-submit --properties-file.

Under spark-submit the driver JVM starts before ``get_spark`` runs, so the
engine's driver-JVM options reach it only through the launcher; the
properties file carries them, spelled once in ``session.py``.
"""

from __future__ import annotations

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "nospa_rdf_data_cube_validator_spark"

sys.path.insert(0, REPO)

from nospa_rdf_data_cube_validator_spark.session import DRIVER_JAVA_OPTIONS  # noqa: E402


def main(dist: str = os.path.join(REPO, "dist")) -> None:
    os.makedirs(dist, exist_ok=True)
    out = os.path.join(dist, "engine.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(os.path.join(REPO, PKG)):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    print(out)
    conf = os.path.join(dist, "spark-defaults.conf")
    with open(conf, "w") as fh:
        fh.write(f"spark.driver.defaultJavaOptions {DRIVER_JAVA_OPTIONS}\n")
    print(conf)


if __name__ == "__main__":
    main()
