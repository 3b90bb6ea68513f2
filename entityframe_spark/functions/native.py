"""The one loader for the repo's C kernels (jw_native, uf_native,
b3_native).

Each kernel is a C source string plus its ctypes signatures. Its
shared object is named ``ef_<tag>_<digest>.so``, where the digest is
the first 16 hex chars of the source's SHA-256, so a changed kernel
never loads a stale binary. On first use in a process the object is
found in this order:

1. the per-user 0700 cache dir (ADVICE r3: a predictable world-writable
   /tmp path lets another local user pre-plant a malicious .so, since
   the source — hence the digest — is public);
2. a prebuilt copy packaged next to this module, which is how
   ``tools/make_pyfiles_zip.py`` ships the kernels to executors that
   have no C compiler; it is copied into the cache dir, because dlopen
   cannot read from inside a zip;
3. ``cc`` from PATH, compiling into the cache dir.

Cache writes go through a temp file and an atomic rename, so
concurrent Python workers race safely, and the cached file's owner is
checked before dlopen. A kernel that can neither be loaded nor built
raises one descriptive RuntimeError on first use; there is no slower
substitute route.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import pkgutil
import subprocess
import tempfile

_alloc_tuned = False


def tune_allocator() -> None:
    """Keep large batch buffers on the glibc heap instead of mmap.

    Why: every scoring batch builds multi-MB temporaries (the utf-32
    pack buffers, pandas/Arrow intermediates). glibc serves
    allocations > M_MMAP_THRESHOLD (128 KB default) via mmap and
    returns them to the OS on free — so EVERY batch faults fresh
    zeroed pages, and this host's page-zeroing path is a contended
    resource that anti-scales with thread count (BENCH.md: 0.60 GiB/s
    at 8 threads -> 0.20 at 32). Raising the mmap + trim thresholds
    makes freed buffers stay on the heap and be reused warm
    (measured: 3x on single-threaded 10 MB alloc churn; the win grows
    with concurrent workers because the kernel fault path is the
    shared bottleneck). Called once per python worker when a kernel
    loads; harmless elsewhere (slightly higher RSS)."""
    global _alloc_tuned
    if _alloc_tuned:
        return
    _alloc_tuned = True
    try:
        libc = ctypes.CDLL("libc.so.6")
        libc.mallopt(-3, 1 << 29)  # M_MMAP_THRESHOLD = 512 MiB
        libc.mallopt(-1, 1 << 29)  # M_TRIM_THRESHOLD: keep freed heap
    except Exception:
        pass  # non-glibc platform: nothing to tune


def _cache_dir() -> str:
    """XDG cache if set, else a uid-scoped tmp dir; created 0700 and
    ownership-verified."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        tempfile.gettempdir(), f"ef-native-{os.getuid()}"
    )
    d = os.path.join(base, "entityframe_spark")
    os.makedirs(d, mode=0o700, exist_ok=True)
    st = os.stat(d)
    if st.st_uid != os.getuid() or (st.st_mode & 0o077):
        raise RuntimeError(f"native cache dir {d} is not owned-private; refusing")
    return d


def _packaged(name: str) -> bytes | None:
    """Bytes of a prebuilt kernel shipped inside this package (the
    --py-files zip), or None when the package carries none."""
    try:
        return pkgutil.get_data(__package__, name)
    except OSError:
        return None


def _compile(source: str, so_path: str) -> None:
    src = so_path + f".{os.getpid()}.c"
    tmp_so = so_path + f".{os.getpid()}.tmp"
    with open(src, "w") as f:
        f.write(source)
    try:
        subprocess.run(
            ["cc", "-O3", "-shared", "-fPIC", "-o", tmp_so, src],
            check=True,
            capture_output=True,
            timeout=60,
        )
        os.replace(tmp_so, so_path)  # atomic: concurrent workers race safely
    finally:
        for p in (src, tmp_so):
            try:
                os.unlink(p)
            except OSError:
                pass


def _install(data: bytes, so_path: str) -> None:
    tmp_so = so_path + f".{os.getpid()}.tmp"
    try:
        with open(tmp_so, "wb") as f:
            f.write(data)
        os.replace(tmp_so, so_path)
    finally:
        try:
            os.unlink(tmp_so)
        except OSError:
            pass


class Kernel:
    """One C kernel: ``signatures`` maps each exported function to
    ``(argtypes, restype)``. ``lib`` loads it on first use."""

    def __init__(self, tag: str, source: str, signatures: dict) -> None:
        digest = hashlib.sha256(source.encode()).hexdigest()[:16]
        self.name = f"ef_{tag}_{digest}.so"
        self.source = source
        self.signatures = signatures
        self._lib: ctypes.CDLL | None = None
        self._error: RuntimeError | None = None

    def build(self) -> str:
        """Path of the cached shared object, installing or compiling it
        first if the cache lacks it."""
        so_path = os.path.join(_cache_dir(), self.name)
        if not os.path.exists(so_path):
            data = _packaged(self.name)
            if data is not None:
                _install(data, so_path)
            else:
                _compile(self.source, so_path)
        if os.stat(so_path).st_uid != os.getuid():
            raise RuntimeError(f"{so_path} not owned by current user; refusing to dlopen")
        return so_path

    @property
    def lib(self) -> ctypes.CDLL:
        if self._lib is None:
            if self._error is not None:
                raise self._error
            try:
                lib = ctypes.CDLL(self.build())
            except (OSError, subprocess.SubprocessError, RuntimeError) as e:
                self._error = RuntimeError(
                    f"native kernel {self.name} could not be loaded or "
                    f"built ({e!r}). Ship it prebuilt in the --py-files zip "
                    "made by tools/make_pyfiles_zip.py, or put a C compiler "
                    "on PATH as `cc`."
                )
                raise self._error from e
            for fn, (argtypes, restype) in self.signatures.items():
                getattr(lib, fn).argtypes = argtypes
                getattr(lib, fn).restype = restype
            tune_allocator()
            self._lib = lib
        return self._lib

    def available(self) -> bool:
        """True when the kernel loads; a probe, never a routing switch."""
        try:
            self.lib
        except RuntimeError:
            return False
        return True
