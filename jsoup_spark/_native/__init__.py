"""C accelerators, compiled from the sources in this directory.

``from jsoup_spark._native import jsoup_fasttree`` (likewise
``jsoup_fastscan`` and ``jsoup_fastser``) loads an extension module built
from the ``.c`` file beside this one. Builds live in ``_build/`` under a
name keyed by a hash of the source, the compiler flags and the
interpreter's ``EXT_SUFFIX``, so the binary that loads is always the one
built from the source in the tree; an edited source simply gets a new
build on its next import.

On the first access in a process with a missing build, every missing
source is compiled at once (in parallel, under one ``fcntl`` lock so
concurrent processes build each file once), each written to a temp file
and moved into place with ``os.replace``. Any failure -- no compiler, a
read-only or zipped package -- raises ``ImportError``, and every import
site falls back to its pure-Python twin.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import hashlib
import importlib.util
import os
import subprocess
import sys
import sysconfig
import threading
from concurrent.futures import ThreadPoolExecutor

_HERE = os.path.dirname(os.path.abspath(__file__))
SOURCES = {
    "jsoup_fastscan": "fastscan.c",
    "jsoup_fasttree": "fasttree.c",
    "jsoup_fastser": "fastser.c",
}
CC = "gcc"
CFLAGS = ("-O2", "-fPIC", "-shared")
_EXT = sysconfig.get_config_var("EXT_SUFFIX") or ".so"
_INCLUDE = sysconfig.get_paths()["include"]

_lock = threading.Lock()
_failed: dict[str, ImportError] = {}


def build_path(name: str, here: str = _HERE) -> str:
    """Path of the build of module `name` for the source now in `here`."""
    with open(os.path.join(here, SOURCES[name]), "rb") as f:
        src = f.read()
    h = hashlib.sha256(src)
    h.update("\0".join((CC,) + CFLAGS).encode())
    h.update(_EXT.encode())
    return os.path.join(here, "_build",
                        f"{name}-{h.hexdigest()[:16]}{_EXT}")


def _compile(name: str, here: str, out: str) -> None:
    tmp = f"{out}.{os.getpid()}.tmp"
    try:
        res = subprocess.run(
            [CC, *CFLAGS, "-I", _INCLUDE, os.path.join(here, SOURCES[name]),
             "-o", tmp], capture_output=True, text=True)
        if res.returncode != 0:
            raise ImportError(f"{name}: {CC} failed:\n{res.stderr[-2000:]}")
        os.replace(tmp, out)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    # builds of older sources are dead weight once this one is in place
    for old in glob.glob(os.path.join(here, "_build", f"{name}-*{_EXT}")):
        if old != out:
            with contextlib.suppress(OSError):
                os.unlink(old)


def _ensure_built(here: str = _HERE) -> dict[str, str | ImportError]:
    """Build every missing module of `here`; name -> path or the error."""
    paths = {name: build_path(name, here) for name in SOURCES}
    missing = [n for n, p in paths.items() if not os.path.exists(p)]
    if not missing:
        return paths
    os.makedirs(os.path.join(here, "_build"), exist_ok=True)
    with open(os.path.join(here, "_build", ".lock"), "a") as lf:
        fcntl.flock(lf, fcntl.LOCK_EX)
        missing = [n for n in missing if not os.path.exists(paths[n])]
        with ThreadPoolExecutor(len(missing) or 1) as ex:
            futs = {n: ex.submit(_compile, n, here, paths[n])
                    for n in missing}
        out: dict[str, str | ImportError] = dict(paths)
        for n, fut in futs.items():
            e = fut.exception()
            if e is not None:
                out[n] = e if isinstance(e, ImportError) else \
                    ImportError(f"{n}: build failed: {e}")
        return out


def _load(name: str):
    qual = f"{__name__}.{name}"
    mod = sys.modules.get(qual)
    if mod is not None:
        return mod
    if name in _failed:
        raise _failed[name]
    try:
        path = _ensure_built()[name]
    except OSError as e:
        path = ImportError(f"{name}: cannot build in {_HERE}: {e}")
    if isinstance(path, ImportError):
        _failed[name] = path
        raise path
    spec = importlib.util.spec_from_file_location(qual, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sys.modules[qual] = mod
    globals()[name] = mod
    return mod


def __getattr__(name: str):
    if name not in SOURCES:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    with _lock:
        return _load(name)
