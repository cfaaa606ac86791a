"""Run-private disk state: the one module that creates, names and
removes the directories the package, bench.py and tools/ keep on disk.

All of them live in one base, ``<tempdir>/sddt_cache_<uid>``
(``tempfile.gettempdir()`` at call time), created 0700 and checked for
owner and mode on every use, so nothing another local user planted is
ever trusted: a predictable path directly under a shared temp dir can be
pre-created with rows a query would then serve. Two entry points:

- ``cached_dir(name, srcs, build, *, code=(), extra="")``: a directory
  holding ``build(dir)``'s output, built once per key and shared by
  every later process. The key is the sources' (path, mtime, size),
  the source text of the ``code`` functions (an edited builder gets a
  new entry, not the old code's output) and ``extra``. The build runs
  in a staging dir that one ``os.rename`` turns into the entry, so an
  entry exists iff it is complete and concurrent builders race safely.
  Each entry records its source paths; building a new entry removes
  every entry one of whose sources no longer exists (or that has no
  record). An entry whose sources were rewritten in place stays until
  they are deleted; its key no longer matches, so it is never served.
- ``scratch_dir(name)``: a fresh directory for one call's output, in
  this process's scratch root. The root lives until the interpreter
  exits (lazily evaluated outputs stay readable), when an ``atexit``
  hook removes it. ``kill -9`` skips ``atexit``, so the first
  ``scratch_dir`` of a process also removes the scratch roots and
  staging dirs of processes that are no longer alive.

``evict(name)`` drops every entry built under ``name`` (bench.py's
cache-cold nightly row).
"""

from __future__ import annotations

import atexit
import hashlib
import inspect
import json
import os
import shutil
import tempfile

#: file inside each cache entry listing its source paths (a dot file:
#: Spark's file index skips it, so an entry still reads as a table)
_SOURCES = ".sources"

#: (base, pid) -> that process's scratch root under base
_roots: dict[tuple[str, int], str] = {}


def _base() -> str:
    base = os.path.join(tempfile.gettempdir(), f"sddt_cache_{os.getuid()}")
    os.makedirs(base, mode=0o700, exist_ok=True)
    st = os.stat(base)
    if st.st_uid != os.getuid() or (st.st_mode & 0o077):
        raise RuntimeError(
            f"cache base {base} is not private to uid {os.getuid()}"
        )
    return base


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _sweep(base: str) -> None:
    """Remove the staging dirs and scratch roots of dead processes
    (named ``.stage-<pid>-*`` / ``.scratch-<pid>-*``) and every entry
    whose recorded sources are gone."""
    for e in os.listdir(base):
        kind, _, rest = e.partition("-")
        if kind in (".stage", ".scratch"):
            dead = not _alive(int(rest.split("-")[0]))
        else:
            try:
                with open(os.path.join(base, e, _SOURCES)) as fh:
                    dead = not all(map(os.path.exists, json.load(fh)))
            except (OSError, ValueError):
                dead = True
        if dead:
            shutil.rmtree(os.path.join(base, e), ignore_errors=True)


def cached_dir(name: str, srcs, build, *, code=(), extra: str = "") -> str:
    """Directory holding ``build(dir)``'s output for these sources,
    builder code and ``extra``; see the module docstring for the key,
    the atomic build and the eviction rule."""
    srcs = sorted(os.path.abspath(p) for p in srcs)
    h = hashlib.md5()
    for p in srcs:
        st = os.stat(p)
        h.update(f"{p}|{st.st_mtime_ns}|{st.st_size}|".encode())
    for f in code:
        h.update(inspect.getsource(f).encode())
    h.update(extra.encode())
    base = _base()
    out = os.path.join(base, f"{name}_{h.hexdigest()[:12]}")
    if os.path.isdir(out):
        return out
    _sweep(base)
    staging = tempfile.mkdtemp(prefix=f".stage-{os.getpid()}-", dir=base)
    try:
        build(staging)
        with open(os.path.join(staging, _SOURCES), "w") as fh:
            json.dump(srcs, fh)
        os.rename(staging, out)  # atomic: complete iff present
    except OSError:
        if not os.path.isdir(out):  # lost the race -> reuse the winner
            raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return out


def evict(name: str) -> None:
    """Remove every entry ``cached_dir`` built under ``name``."""
    base = _base()
    for e in os.listdir(base):
        if e.rpartition("_")[0] == name:
            shutil.rmtree(os.path.join(base, e), ignore_errors=True)


def scratch_dir(name: str) -> str:
    """A fresh empty directory (prefix ``name``) in this process's
    scratch root, removed when the interpreter exits."""
    base = _base()
    key = (base, os.getpid())
    if key not in _roots:
        _sweep(base)
        _roots[key] = tempfile.mkdtemp(
            prefix=f".scratch-{os.getpid()}-", dir=base
        )
    return tempfile.mkdtemp(prefix=f"{name}_", dir=_roots[key])


@atexit.register
def _remove_roots() -> None:
    for (_, pid), root in _roots.items():
        if pid == os.getpid():  # a forked child leaves its parent's root
            shutil.rmtree(root, ignore_errors=True)
