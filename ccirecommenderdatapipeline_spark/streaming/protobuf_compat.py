"""Make ``google.protobuf`` importable for transformWithStateInPandas.

Spark 4's TWS Python worker speaks proto3 to the JVM state server via the
generated ``StateMessage_pb2`` module, which needs a protobuf runtime.
Real clusters ship one; this container does not (VERDICT r10 item 3 — the
one SURVEY §2.10-adjacent surface without a driver verdict). The repo
vendors a minimal pure-Python runtime (vendor/protobuf_shim, implemented
from the public wire-format spec) covering exactly the surface the four
TWS state clients use; :func:`ensure_protobuf` makes it importable in the
DRIVER (sys.path) and in every Python WORKER (``sc.addPyFile`` of a zip —
the only runtime-safe delivery once the JVM is already up, since worker
PYTHONPATH is frozen at JVM launch).

Preference order: a native ``google.protobuf`` always wins (the shim is
only inserted when the import fails), so on a real cluster this module is
a no-op returning "native". The shim is recognised by its version tag,
not by where it was imported from: once shipped, ``addPyFile`` also puts
a copy of the worker zip on the driver's sys.path, and a test may import
the vendor tree of another checkout, so a path check would mistake the
shim for a native runtime and skip the delivery.
"""

from __future__ import annotations

import os
import sys
import zipfile

from ..operators.planmemo import staged

_VENDOR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "vendor",
    "protobuf_shim",
)
# the vendored runtime's __version__ ends with this tag
_SHIM_TAG = "-ccirecommenderdatapipeline-shim"
# the worker zip's file name; addPyFile needs the .zip suffix
_ZIP = "protobuf_shim.zip"


# pkgutil-style namespace __init__, generated ONLY into the worker zip:
# the vendor tree itself ships google/ as a PEP 420 namespace portion
# (no __init__.py, exactly like real protobuf wheels) so putting _VENDOR
# on a path never shadows other google.* portions — but Python 3.11's
# zipimport cannot import PEP 420 portions from a zip, so the zip's
# google/ carries this extend_path stub, which MERGES filesystem
# portions (e.g. a worker's google.cloud) instead of hiding them
# (ADVICE r11 item 3).
_NS_INIT = (
    "from pkgutil import extend_path\n"
    "__path__ = extend_path(__path__, __name__)\n"
)


def _shim_zip_path() -> str:
    """A zip of the shim with ``google/`` at its root, so the zip path
    itself can sit on worker sys.path; built once per snapshot of the
    vendor tree."""
    def write(out: str) -> None:
        os.makedirs(out)
        with zipfile.ZipFile(os.path.join(out, _ZIP), "w", zipfile.ZIP_DEFLATED) as zf:
            zf.writestr("google/__init__.py", _NS_INIT)
            for root, _dirs, files in os.walk(_VENDOR):
                for fn in sorted(files):
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, _VENDOR))

    return os.path.join(staged("/tmp", "ccirdp_protobuf_shim", _VENDOR, write), _ZIP)


def _imported_runtime():
    """The ``google.protobuf`` this process imports, or None."""
    try:
        import google.protobuf as gpb
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        return None
    return gpb


def ensure_protobuf(spark) -> str:
    """Return "native" when a real protobuf runtime is importable,
    otherwise wire the vendored shim into this driver and the session's
    Python workers and return "shim". Idempotent per session: the
    delivery state is read back from the session itself, so calls in any
    order (and from any test) leave the same state. Raises RuntimeError
    when neither a native runtime nor the shim can be imported here."""
    gpb = _imported_runtime()
    if gpb is not None and not getattr(gpb, "__version__", "").endswith(
        _SHIM_TAG
    ):
        return "native"
    if gpb is None:
        if _VENDOR not in sys.path:
            sys.path.insert(0, _VENDOR)
        gpb = _imported_runtime()
        if gpb is None:
            raise RuntimeError(
                "transformWithStateInPandas needs google.protobuf: no native "
                f"runtime is installed and the vendored shim at {_VENDOR} "
                "does not import in this driver (google.protobuf resolves "
                f"to {sys.modules.get('google.protobuf')!r})"
            )

    sc = spark.sparkContext
    prev = sc.environment.get("PYTHONPATH", "")
    if _VENDOR not in prev.split(os.pathsep):
        # task workers: python-includes protocol (worker_util.add_path)
        sc.addPyFile(_shim_zip_path())
        # the TWS pre-init/driver worker (StreamingPythonRunner) is a
        # separate long-lived process that does NOT receive python
        # includes — it builds PYTHONPATH from the python function's
        # envVars, which classic PySpark snapshots from sc.environment
        # at UDF creation. sc.environment is the UDF-env channel and is
        # session-scoped; os.environ is deliberately NOT touched (ADVICE
        # r11 item 3 — a process-global mutation outlives the session
        # and leaks into unrelated subprocesses). _VENDOR is a PEP 420
        # namespace portion, so even on the worker path it merges with,
        # never shadows, other google.* packages.
        sc.environment["PYTHONPATH"] = (
            _VENDOR + os.pathsep + prev if prev else _VENDOR
        )
    return "shim"
