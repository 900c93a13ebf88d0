"""Build-on-import for the package's C extensions.

:func:`load` compiles ``octospark/<name>.c`` with the system C compiler
the first time a process needs it and loads it from a build cache after
that. The source is read through the package loader, so a package
imported from a ``--py-files`` zip builds too.

The cache key is the sha256 of the source and the interpreter's
``EXT_SUFFIX``, so an edited source or another interpreter never loads
a stale build. The cache is the package's ``__pycache__`` directory, or
``~/.cache/octospark`` when the package has no directory of its own (a
zip); it never follows ``TMPDIR``, so a driver that builds before it
points its workers' ``TMPDIR`` elsewhere leaves the workers a build to
load. A build is written to a temporary name and renamed into place, so
processes that build at once never load a partial file. A build into
the package's ``__pycache__`` deletes the builds of the source's other
versions there; the shared ``~/.cache/octospark`` keeps them, since two
submitted versions of the package can load from it on one host at once.

With no compiler or an unwritable cache, :func:`load` logs one warning
and returns None; the caller keeps its pure-Python path.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import importlib.machinery
import importlib.util
import logging
import os
import pkgutil
import subprocess
import sysconfig

log = logging.getLogger(__name__)

_SHARED_CACHE = os.path.join(os.path.expanduser("~"), ".cache", "octospark")


def _cache_dir() -> str:
    here = os.path.dirname(os.path.abspath(__file__))
    if os.path.isdir(here):
        return os.path.join(here, "__pycache__")
    return _SHARED_CACHE


def _compile(src: bytes, out: str) -> None:
    """Compile the C source ``src`` into the extension file ``out``."""
    subprocess.run(
        ["cc", "-O2", "-shared", "-fPIC",
         "-I" + sysconfig.get_paths()["include"], "-x", "c", "-", "-o", out],
        input=src, capture_output=True, check=True, timeout=300,
    )


def _prune(cache: str, pattern: str, keep: str) -> None:
    """Delete the files in ``cache`` matching ``pattern`` but ``keep``;
    one another process deleted first is skipped."""
    for old in glob.glob(os.path.join(glob.escape(cache), pattern)):
        if old != keep:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(old)


def load(name: str):
    """The extension module built from ``octospark/<name>.c``, or None
    (with a warning logged) when it cannot be built or loaded."""
    try:
        src = pkgutil.get_data(__package__, name + ".c")
        suffix = sysconfig.get_config_var("EXT_SUFFIX")
        key = hashlib.sha256(src + suffix.encode()).hexdigest()[:16]
        cache = _cache_dir()
        path = os.path.join(cache, f"{name}-{key}{suffix}")
        if not os.path.exists(path):
            os.makedirs(cache, exist_ok=True)
            tmp = f"{path}.{os.getpid()}.tmp"
            try:
                _compile(src, tmp)
                os.replace(tmp, path)
            finally:
                if os.path.exists(tmp):
                    os.unlink(tmp)
            if cache != _SHARED_CACHE:
                _prune(cache, f"{name}-*{suffix}", path)
        loader = importlib.machinery.ExtensionFileLoader(
            f"{__package__}.{name}", path)
        module = importlib.util.module_from_spec(
            importlib.util.spec_from_loader(loader.name, loader))
        loader.exec_module(module)
        return module
    except Exception as exc:
        detail = getattr(exc, "stderr", None) or b""
        if isinstance(detail, bytes):
            detail = detail.decode(errors="replace")
        log.warning("octospark: cannot build %s.c (%s: %s%s); using the "
                    "pure-Python code", name, type(exc).__name__, exc,
                    "\n" + detail[-2000:] if detail else "")
        return None
