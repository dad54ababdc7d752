"""Unit tests for the vendored protobuf wire shim (vendor/protobuf_shim).

The integration proof is test_streaming.test_tws_user_stats_matches_batch
(the JVM state server parses the shim's bytes and vice versa); these
tests pin the wire-format details against hand-computed spec bytes so a
shim regression fails fast without spinning up a streaming query. No
SparkSession needed."""

from __future__ import annotations

import os
import sys

VENDOR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "vendor",
    "protobuf_shim",
)


def _sm():
    if VENDOR not in sys.path:
        sys.path.insert(0, VENDOR)
    try:
        from google.protobuf import _shim_runtime  # noqa: F401
    except ImportError:
        import pytest

        pytest.skip("native protobuf installed — shim not in play")
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    return sm


def test_generated_module_executes_and_exports():
    sm = _sm()
    assert sm.PRE_INIT == 0 and sm.CLOSED == 5
    assert sm.StateRequest.__name__ == "StateRequest"
    # generated-module conventions the pb2 file relies on
    assert hasattr(sm, "_STATEREQUEST")
    assert sm._STATEREQUEST._serialized_start == 112


def test_exact_wire_bytes_vs_spec():
    """Hand-computed per the public encoding spec: field 2 LEN wrapping
    field 1 LEN wrapping field 1 varint 2 (INITIALIZED)."""
    sm = _sm()
    req = sm.StateRequest(
        statefulProcessorCall=sm.StatefulProcessorCall(
            setHandleState=sm.SetHandleState(state=sm.INITIALIZED)
        )
    )
    assert req.SerializeToString() == bytes.fromhex("12040a020802")


def test_empty_oneof_arm_serializes_presence():
    """Exists() must hit the wire as a zero-length submessage — that tag
    is what selects the oneof branch server-side."""
    sm = _sm()
    call = sm.ValueStateCall(stateName="s", exists=sm.Exists())
    data = call.SerializeToString()
    assert bytes.fromhex("1200") in data  # field 2, LEN, length 0


def test_roundtrip_scalars_negatives_repeated():
    sm = _sm()
    resp = sm.StateResponseWithLongTypeVal(
        statusCode=3, errorMessage="boom", value=-7
    )
    back = sm.StateResponseWithLongTypeVal()
    back.ParseFromString(resp.SerializeToString())
    assert (back.statusCode, back.errorMessage, back.value) == (3, "boom", -7)

    lst = sm.ListStatePut(value=[b"a", b"bb", b""], fetchWithArrow=True)
    back2 = sm.ListStatePut()
    back2.ParseFromString(lst.SerializeToString())
    assert back2.value == [b"a", b"bb", b""]
    assert back2.fetchWithArrow is True


def test_attribute_assignment_and_nested_vivify():
    sm = _sm()
    cmd = sm.StateCallCommand()
    cmd.stateName = "stats"
    cmd.ttl.durationMs = 1234
    back = sm.StateCallCommand()
    back.ParseFromString(cmd.SerializeToString())
    assert back.stateName == "stats"
    assert back.ttl.durationMs == 1234


def test_proto3_defaults_not_emitted_and_read_back_as_defaults():
    sm = _sm()
    assert sm.SetHandleState(state=sm.PRE_INIT).SerializeToString() == b""
    fresh = sm.StateResponse()
    fresh.ParseFromString(b"")
    assert (fresh.statusCode, fresh.errorMessage, fresh.value) == (0, "", b"")


def test_unknown_fields_are_skipped():
    sm = _sm()
    # unknown field 15 varint 1, then a valid statusCode=5
    payload = bytes([15 << 3 | 0, 1]) + bytes.fromhex("0805")
    r = sm.StateResponse()
    r.ParseFromString(payload)
    assert r.statusCode == 5


def _run_fresh(code: str):
    """Run code in a fresh interpreter so sys.modules['google'] from other
    tests can't mask path-resolution behavior."""
    import subprocess

    return subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True
    )


def _fake_portion(tmp_path):
    """A sibling filesystem google.* portion (stands in for e.g.
    google.cloud on a cluster that lacks protobuf but carries other
    google libs)."""
    pkg = tmp_path / "site" / "google" / "fakecloud"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("Y = 7\n")
    return str(tmp_path / "site")


def test_vendor_tree_is_pep420_portion_and_does_not_shadow(tmp_path):
    """ADVICE r11 item 3: the vendor tree ships google/ WITHOUT an
    __init__.py (a PEP 420 portion, like real protobuf wheels), so
    prepending _VENDOR to a path merges with — never hides — other
    google.* portions."""
    site = _fake_portion(tmp_path)
    out = _run_fresh(
        f"import sys\n"
        f"sys.path.insert(0, {site!r})\n"
        f"sys.path.insert(0, {VENDOR!r})\n"
        f"from google.protobuf import _shim_runtime\n"
        f"import google.fakecloud\n"
        f"print(google.fakecloud.Y)\n"
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "7"


def test_worker_zip_merges_filesystem_google_portions(tmp_path):
    """The addPyFile zip cannot use PEP 420 (Python 3.11 zipimport limit),
    so its generated google/__init__.py is a pkgutil extend_path stub —
    a worker whose sys.path leads with the zip still resolves filesystem
    google.* portions."""
    from ccirecommenderdatapipeline_spark.streaming.protobuf_compat import (
        _shim_zip_path,
    )

    site = _fake_portion(tmp_path)
    zpath = _shim_zip_path()
    out = _run_fresh(
        f"import sys\n"
        f"sys.path.insert(0, {site!r})\n"
        f"sys.path.insert(0, {zpath!r})\n"
        f"from google.protobuf import _shim_runtime\n"
        f"import google, google.fakecloud\n"
        f"assert google.__file__ and 'zip' in google.__file__.lower()\n"
        f"print(google.fakecloud.Y)\n"
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "7"


def test_ensure_protobuf_does_not_mutate_process_env(spark, monkeypatch):
    """The PYTHONPATH delivery is scoped to sc.environment (the UDF env
    channel); os.environ must stay untouched (ADVICE r11 item 3).

    The shim already imported in this driver from somewhere other than
    the vendor tree — here the worker zip, as addPyFile's copy of it on
    sys.path provides — must not read as a native runtime: a session not
    yet shipped to still gets the delivery, or the TWS driver worker
    fails with ``cannot import name 'descriptor'``."""
    from ccirecommenderdatapipeline_spark.streaming.protobuf_compat import (
        _shim_zip_path,
        ensure_protobuf,
    )

    _sm()  # skips if protobuf is native
    for name in [m for m in sys.modules if m.split(".")[0] == "google"]:
        monkeypatch.delitem(sys.modules, name)
    monkeypatch.syspath_prepend(_shim_zip_path())
    import google.protobuf

    assert ".zip" in google.protobuf.__file__
    env = spark.sparkContext.environment
    saved = env.pop("PYTHONPATH", None)  # as on a session never shipped to
    before = os.environ.get("PYTHONPATH")
    try:
        assert ensure_protobuf(spark) == "shim"
        assert os.environ.get("PYTHONPATH") == before
        assert VENDOR in env.get("PYTHONPATH", "").split(os.pathsep)
    finally:
        if saved is not None:
            env["PYTHONPATH"] = saved
