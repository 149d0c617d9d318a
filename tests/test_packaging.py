"""Installed-package smoke test (SURVEY.md §2.1 "library surface").

The reference is a pip-style library; a user's day-one path is
``pip install`` + ``import``, not repo-root ``sys.path`` tweaks.  This
test pip-installs the repo into a scratch ``--target`` dir (fully
offline: ``--no-index --no-build-isolation --no-deps``) and then, in a
child interpreter whose cwd is NOT the repo, imports the package from
the installed copy and loads the full query registry — proving the
wheel metadata ships every subpackage and the flat API re-exports work
outside the source tree.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _wheel_pythonpath() -> str | None:
    """Path to make ``import wheel`` work in the build subprocess.

    setuptools < 70 shells out to ``bdist_wheel`` from the ``wheel``
    package.  If it's importable already, nothing to add; otherwise a
    pure-python ``wheel-*.whl`` anywhere under the interpreter prefix
    tree is directly importable off ``sys.path`` (a .whl is a zip).
    """
    try:
        import wheel  # noqa: F401

        return ""
    except ImportError:
        pass
    versions_root = os.path.dirname(sys.prefix)
    candidates = glob.glob(
        os.path.join(versions_root, "*", "lib", "python3.*", "**", "wheel-*.whl"),
        recursive=True,
    )
    return sorted(candidates)[-1] if candidates else None


def test_pip_install_and_import_from_installed_copy(tmp_path):
    wheel_pp = _wheel_pythonpath()
    if wheel_pp is None:
        pytest.skip("no wheel module or wheel-*.whl available offline")

    # Build from a COPY of the source tree (VERDICT r17 #2): an
    # in-tree `pip install <repo>` with --no-build-isolation runs
    # setuptools in place and regenerates <repo>/build/lib/ on every
    # pytest run — a byte-identical but LoC-double-counting artifact.
    # Copying pyproject + package + README into the tempdir keeps the
    # repo pristine while proving the same wheel metadata.
    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(os.path.join(REPO, "pyproject.toml"), src / "pyproject.toml")
    shutil.copy(os.path.join(REPO, "README.md"), src / "README.md")
    shutil.copytree(
        os.path.join(REPO, "pyspark_analytics_library_spark"),
        src / "pyspark_analytics_library_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )

    target = str(tmp_path / "site")
    env = dict(os.environ)
    if wheel_pp:
        env["PYTHONPATH"] = wheel_pp
    subprocess.run(
        [
            sys.executable,
            "-m",
            "pip",
            "install",
            "--quiet",
            "--no-index",
            "--no-build-isolation",
            "--no-deps",
            "--target",
            target,
            str(src),
        ],
        check=True,
        env=env,
        cwd=str(tmp_path),
    )
    # The repo itself must stay build-artifact-free after this test.
    assert not os.path.exists(os.path.join(REPO, "build", "lib"))

    # Child interpreter: installed copy first on sys.path, cwd far from
    # the repo, and the repo root must NOT satisfy the import.
    probe = (
        "import os, sys\n"
        "import pyspark_analytics_library_spark as p\n"
        f"assert p.__file__.startswith({target!r}), p.__file__\n"
        "from pyspark_analytics_library_spark.registry import (\n"
        "    REGISTRY, load_all_query_modules)\n"
        "load_all_query_modules()\n"
        "assert len(REGISTRY) >= 127, len(REGISTRY)\n"
        "n_oracled = sum(1 for s in REGISTRY.values() if s.oracle)\n"
        "assert n_oracled >= 100, n_oracled\n"
        "# flat API surface reachable from the installed copy\n"
        "for attr in ('gapply', 'cosine_sim', 'minhash_lsh_pairs',\n"
        "             'tokenize', 'ensure_column', 'get_spark'):\n"
        "    assert callable(getattr(p, attr)), attr\n"
        "print('INSTALLED_OK', len(REGISTRY))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        env={**os.environ, "PYTHONPATH": target},
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "INSTALLED_OK" in out.stdout


def test_public_api_resolves_and_import_stays_light():
    """Every ``__all__`` name resolves, and a bare package import pulls
    in neither pandas nor any operator module: those load lazily on
    first attribute access.  Runs in a child interpreter so this test
    session's own imports cannot mask a leak."""
    probe = (
        "import sys, pyspark_analytics_library_spark as pkg\n"
        "loaded = sorted(m for m in sys.modules if m == 'pandas' or "
        "m.startswith('pyspark_analytics_library_spark.operators.'))\n"
        "print(loaded)\n"
        "missing = [n for n in pkg.__all__ if getattr(pkg, n, None) is None]\n"
        "print(missing, len(pkg.__all__))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
        timeout=300,
    ).stdout.splitlines()
    assert out[0] == "[]", f"package import loaded {out[0]}"
    assert out[1].startswith("[] "), f"unresolved __all__ names: {out[1]}"
