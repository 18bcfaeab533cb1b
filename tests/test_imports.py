"""Every module of the package imports on its own: no import cycles.

A cycle only shows when a module of the cycle is imported FIRST, so each
module is imported with no other ``magiceye_spark`` module loaded. That
runs in a fresh interpreter (this suite's session has long since loaded
the whole package), which drops the package from ``sys.modules`` before
each import; third-party modules such as pyspark stay loaded, since they
cannot take part in a cycle of this package.
"""

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the ``python -m magiceye_spark`` entry point runs the CLI on import
_SCRIPTS = {"magiceye_spark.__main__"}


def _modules() -> list[str]:
    out = []
    pkg = os.path.join(ROOT, "magiceye_spark")
    for dirpath, _, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), ROOT)[: -len(".py")]
            name = rel.replace(os.sep, ".").removesuffix(".__init__")
            if name not in _SCRIPTS:
                out.append(name)
    return sorted(out)


def test_every_module_imports_first():
    mods = _modules()
    assert "magiceye_spark.queries.datadiff_rows" in mods
    code = textwrap.dedent(
        """
        import importlib, sys, traceback
        failed = []
        for name in sys.argv[1:]:
            for m in [m for m in sys.modules if m.split(".")[0] == "magiceye_spark"]:
                del sys.modules[m]
            try:
                importlib.import_module(name)
            except Exception:
                failed.append(name + ": " + traceback.format_exc(limit=1))
        print("\\n".join(failed))
        sys.exit(1 if failed else 0)
        """
    )
    r = subprocess.run(
        [sys.executable, "-c", code, *mods],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stdout + r.stderr
