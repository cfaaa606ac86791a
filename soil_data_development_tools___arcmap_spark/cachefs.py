"""Content-keyed local cache directories (single-sourced invalidation).

Several places grew the same build-once-per-source-fingerprint idiom
with slightly different protocols (nightly_gssurgo's text export, the
streaming-scale replicas, bench's scale10 replica, the streaming
readers' symlink dirs). This module is the one implementation they
share, fixing the defects the copies had:

- **code identity in the key**: a cache keyed on input fingerprints
  alone keeps serving the output of OLD code after the builder is
  edited — ``source_salt`` folds the builder functions' source text
  into the tag, so editing them invalidates the cache;
- **no pre-creation hijack**: the old predictable
  ``/tmp/sddt_*_<tag>`` paths could be pre-created by any local user
  and their content would be trusted; ``cached_dir`` roots everything
  in a per-uid 0700 base whose ownership and mode are verified before
  use;
- **no per-process temp dirs**: a private ``mkdtemp`` per process
  also avoids the hijack, but leaves one never-removed dir behind per
  process; a cache entry is built once per source fingerprint and
  shared by every later process.

Completion protocol: build into a staging dir inside the same base,
then one atomic ``os.rename`` — a cache dir EXISTS iff it is
complete, and concurrent builders race safely (the loser discards).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile


def content_tag(paths: list[str], extra: str = "") -> str:
    """Fingerprint of the given source files/dirs (path, mtime, size)
    plus an arbitrary salt (pass ``source_salt(...)`` of the builder)."""
    h = hashlib.md5()
    for p in sorted(paths):
        st = os.stat(p)
        h.update(
            f"{os.path.abspath(p)}|{st.st_mtime_ns}|{st.st_size}|".encode()
        )
    h.update(extra.encode())
    return h.hexdigest()[:12]


def source_salt(*funcs) -> str:
    """Code-identity salt: md5 of the source text of the functions
    whose behavior the cached artifact depends on."""
    import inspect

    h = hashlib.md5()
    for f in funcs:
        h.update(inspect.getsource(f).encode())
    return h.hexdigest()[:8]


def cached_dir(name: str, tag: str, build) -> str:
    """Directory holding ``build(staging_dir)``'s output for this tag,
    built at most once per (name, tag); see module docstring for the
    privacy and atomicity guarantees."""
    base = os.path.join(tempfile.gettempdir(), f"sddt_cache_{os.getuid()}")
    os.makedirs(base, mode=0o700, exist_ok=True)
    stb = os.stat(base)
    if stb.st_uid != os.getuid() or (stb.st_mode & 0o077):
        raise RuntimeError(
            f"cache base {base} is not private to uid {os.getuid()}"
        )
    out = os.path.join(base, f"{name}_{tag}")
    if not os.path.isdir(out):
        staging = tempfile.mkdtemp(prefix=f"{name}_stage_", dir=base)
        build(staging)
        try:
            os.rename(staging, out)  # atomic: complete iff present
        except OSError:
            if not os.path.isdir(out):  # lost the race -> reuse winner
                raise
            shutil.rmtree(staging, ignore_errors=True)
    return out
