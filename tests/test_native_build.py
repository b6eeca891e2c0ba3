"""The C accelerators load from builds of the sources in the tree.

jsoup_spark/_native compiles each .c file on first import into _build/,
under a name keyed by a hash of the source, the compiler flags and
EXT_SUFFIX. These tests check the key, that an edit gets a new build,
that concurrent first imports build each source once, and that without a
compiler every import site falls back to Python with unchanged output.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

import pytest
from conftest import REPO

from jsoup_spark import _native
from jsoup_spark.extract.canonical import canonical
from jsoup_spark.parser import treebuilder

pytestmark = pytest.mark.skipif(shutil.which(_native.CC) is None,
                                reason="no C compiler")

PAGE = ("<title>t</title><table><tr><td>a<b>b<td>c</table>"
        "<p>x &amp; y<ul><li>1<li>2</ul>")
PROBE = ("from jsoup_spark.parser import treebuilder as t;"
         "from jsoup_spark.extract.canonical import canonical;"
         "ft = t._FT; print(ft.__file__ if ft else None);"
         f"print(canonical(t.parse({PAGE!r})))")


def _copy_package(tmp_path):
    """A private checkout of the package with no builds in it."""
    shutil.copytree(os.path.join(REPO, "jsoup_spark"),
                    tmp_path / "jsoup_spark",
                    ignore=shutil.ignore_patterns("_build", "__pycache__"))
    return str(tmp_path / "jsoup_spark" / "_native")


def _probe(root, env_extra=None):
    env = dict(os.environ, PYTHONPATH=str(root), **(env_extra or {}))
    return subprocess.Popen([sys.executable, "-c", PROBE], cwd=root,
                            env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)


def test_loaded_modules_are_the_builds_of_the_current_source():
    from jsoup_spark._native import jsoup_fastscan, jsoup_fastser, \
        jsoup_fasttree
    ext = _native._EXT
    for mod in (jsoup_fastscan, jsoup_fasttree, jsoup_fastser):
        name = mod.__name__.rsplit(".", 1)[1]
        with open(os.path.join(os.path.dirname(_native.__file__),
                               _native.SOURCES[name]), "rb") as f:
            h = hashlib.sha256(f.read())
        h.update("\0".join((_native.CC,) + _native.CFLAGS).encode())
        h.update(ext.encode())
        assert os.path.basename(mod.__file__) == \
            f"{name}-{h.hexdigest()[:16]}{ext}"
        assert mod.__file__ == _native.build_path(name)
    assert treebuilder._FT is jsoup_fasttree


def test_one_byte_edit_gets_a_new_build(tmp_path):
    here = _copy_package(tmp_path)
    before = {n: _native.build_path(n, here) for n in _native.SOURCES}
    with open(os.path.join(here, "fasttree.c"), "ab") as f:
        f.write(b"\n")
    after = {n: _native.build_path(n, here) for n in _native.SOURCES}
    assert after["jsoup_fasttree"] != before["jsoup_fasttree"]
    assert after["jsoup_fastscan"] == before["jsoup_fastscan"]
    assert after["jsoup_fastser"] == before["jsoup_fastser"]
    out, err = _probe(tmp_path).communicate(timeout=300)
    assert out.splitlines()[0] == after["jsoup_fasttree"], err


def test_concurrent_first_imports_build_each_source_once(tmp_path):
    here = _copy_package(tmp_path)
    procs = [_probe(tmp_path) for _ in range(4)]
    outs = [p.communicate(timeout=300) for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    assert {o.splitlines()[0] for o, _ in outs} == \
        {_native.build_path("jsoup_fasttree", here)}
    built = sorted(os.path.basename(p) for p in
                   glob.glob(os.path.join(here, "_build", "*")))
    assert built == sorted(os.path.basename(_native.build_path(n, here))
                           for n in _native.SOURCES)
    assert not glob.glob(os.path.join(here, "_build", "*.tmp"))


def test_no_compiler_falls_back_to_python(tmp_path):
    here = _copy_package(tmp_path)
    out, err = _probe(tmp_path, {"PATH": ""}).communicate(timeout=300)
    lines = out.splitlines()
    assert lines[0] == "None", err
    assert lines[1] == canonical(treebuilder.parse(PAGE))
    assert not glob.glob(os.path.join(here, "_build", "*.so"))
