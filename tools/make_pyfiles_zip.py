"""Package entityframe_spark into a --py-files zip for spark-submit.

Usage: python tools/make_pyfiles_zip.py [out.zip]

Zips the package sources plus the three prebuilt native kernels
(``entityframe_spark/functions/ef_<tag>_<digest>.so``: scoring/LSH,
union-find, BLAKE3), built here with ``cc`` when the local cache lacks
them. Executors load the kernels from the zip through
``functions/native.py``, so they need no C compiler. The zip root
contains the package dir, so `--py-files out.zip` makes
`import entityframe_spark` work on driver and executors alike.
"""

from __future__ import annotations

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)  # the kernels are built from this checkout

from entityframe_spark.functions import b3_native, jw_native, uf_native  # noqa: E402


def build(out_path: str) -> str:
    pkg = os.path.join(REPO, "entityframe_spark")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for name in sorted(files):
                if not name.endswith(".py"):
                    continue
                full = os.path.join(root, name)
                zf.write(full, os.path.relpath(full, REPO))
        for kernel in (jw_native.KERNEL, uf_native.KERNEL, b3_native.KERNEL):
            zf.write(kernel.build(), f"entityframe_spark/functions/{kernel.name}")
    return out_path


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/entityframe_spark.zip"
    print(build(out))
