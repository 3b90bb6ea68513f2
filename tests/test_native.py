"""The one native-kernel loader (functions/native.py): on a host with
no C compiler the kernels run from the prebuilt copies in the
--py-files zip, and without that zip the first kernel call raises one
descriptive RuntimeError instead of taking a slower route."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# argv[1] is put first on sys.path, so the package imports from it
_PROBE = """
import sys
sys.path.insert(0, sys.argv[1])
import numpy as np
from entityframe_spark.functions import jw_native, uf_native
assert jw_native.__file__.startswith(sys.argv[1]), jw_native.__file__
e, off = np.zeros(0, np.int64), np.zeros(2, np.int64)
try:
    _, _, lev, jw = jw_native.score_batch_native(
        e, off, e, off, e, off, e, off, ["martha"], ["marhta"]
    )
except RuntimeError as err:
    print("RUNTIME_ERROR", err)
    sys.exit(0)
events = uf_native.single_linkage_native(
    np.array([1, 0]), np.array([2, 1]), np.array([9, 5]), 3
)
print("RESULT", repr(float(lev[0])), repr(float(jw[0])), [a.tolist() for a in events])
"""


def _probe(import_root: str, tmp_path) -> str:
    """Run _PROBE with no `cc` on PATH and an empty kernel cache."""
    no_cc = tmp_path / "empty-bin"
    no_cc.mkdir(exist_ok=True)
    cache = tmp_path / f"cache-{len(os.listdir(tmp_path))}"
    env = {
        k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "PATH")
    }
    env["PATH"] = str(no_cc)
    env["XDG_CACHE_HOME"] = str(cache)
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE, import_root],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc.stdout


def test_kernels_load_from_zip_without_compiler(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from make_pyfiles_zip import build

    zip_path = build(str(tmp_path / "entityframe_spark.zip"))
    out = _probe(zip_path, tmp_path)
    assert "RESULT" in out, out
    # martha/marhta: Levenshtein 1 - 2/6; the published Jaro-Winkler
    assert f"RESULT {1 - 2 / 6!r} 0.9611111111111111 " in out, out
    # (t, child, parent, left_size, right_size) of the two merges
    assert out.rstrip().endswith("[[9, 5], [2, 1], [1, 0], [1, 1], [1, 2]]"), out


def test_kernel_without_compiler_or_zip_raises(tmp_path):
    out = _probe(REPO, tmp_path)
    assert out.startswith("RUNTIME_ERROR native kernel ef_jw_"), out
    assert "could not be loaded or built" in out
    assert "make_pyfiles_zip.py" in out
