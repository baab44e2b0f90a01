"""DAP client robustness against a misbehaving server (every request
goes through ``DapDataset._get``): a stalled reply times out and is
retried once, so is an HTTP 500 or a truncated body, a request that
fails twice raises an error naming the URL and the constraint, and a
4xx is not retried. The faults come from a subclass of the served DAP
handler."""

import http.server
import re
import threading
import time

import numpy as np
import pytest

from modeltracking_spark.sources import dap
from modeltracking_spark.sources.dap import (
    DapDataset,
    DapRequestError,
    make_dap_handler,
)
from modeltracking_spark.sources.netcdf_classic import write_classic

#: the client's timeout in these tests; a stalled reply waits longer
TIMEOUT_S = 0.5
STALL_S = 2.0


def faulty_handler(root: str, faults: list):
    """The served DAP handler, failing the next requests as ``faults``
    lists them: ``"stall"`` (no reply for ``STALL_S``), ``"500"`` or
    ``"truncate"`` (half the body under the full ``Content-Length``)."""
    base = make_dap_handler(root)

    class FaultyHandler(base):
        def do_GET(self):
            fault = faults.pop(0) if faults else None
            if fault == "stall":
                time.sleep(STALL_S)
                self.close_connection = True
            elif fault == "500":
                self._reply(500, b"upstream exploded", "text/plain")
            elif fault == "truncate":
                self._truncate = True
                super().do_GET()
            else:
                super().do_GET()

        def _reply(self, code, body, ctype):
            if not getattr(self, "_truncate", False):
                return super()._reply(code, body, ctype)
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body[: len(body) // 2])
            self.close_connection = True

    return FaultyHandler


@pytest.fixture
def served(tmp_path, monkeypatch):
    """``(base_url, faults)``: a tiny record grid behind the faulty
    handler; append to ``faults`` to fail the next requests."""
    write_classic(
        str(tmp_path / "g.nc"),
        dims=[("time", 0), ("y", 2), ("x", 3)],
        variables=[(
            "grid", ("time", "y", "x"),
            lambda r: np.arange(6, dtype=np.float64).reshape(2, 3) + 100 * r,
        )],
        record_dim="time",
        n_records=3,
    )
    monkeypatch.setattr(dap, "DAP_TIMEOUT_S", TIMEOUT_S)
    faults = []
    srv = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), faulty_handler(str(tmp_path), faults))
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"dap+http://127.0.0.1:{srv.server_address[1]}/g.nc", faults
    srv.shutdown()
    srv.server_close()


@pytest.mark.parametrize("fault", ["stall", "500", "truncate"])
def test_one_fault_is_retried(served, fault):
    url, faults = served
    faults.append(fault)  # the .dds request fails once
    d = DapDataset(url)
    faults.append(fault)  # and so does the first data request
    got = d.read_slice("grid", 1)
    np.testing.assert_array_equal(
        got, np.arange(6, dtype=np.float64).reshape(2, 3) + 100
    )
    assert d.n_fetches == 2  # successful requests only
    assert not faults


@pytest.mark.parametrize("fault, why", [
    ("stall", "timed out"),
    ("500", "500"),
    ("truncate", "IncompleteRead|Content-Length"),
])
def test_two_faults_name_url_and_constraint(served, fault, why):
    url, faults = served
    d = DapDataset(url)
    faults.extend([fault, fault])
    t0 = time.perf_counter()
    with pytest.raises(DapRequestError) as ei:
        d.read_slice("grid", 2)
    msg = str(ei.value)
    assert "after 2 attempt(s)" in msg
    assert url.replace("dap+", "") + ".dods" in msg
    assert "grid[2:2][0:1][0:2]" in msg
    assert re.search(why, msg)
    # a stall costs two timeouts, not two stalls
    assert time.perf_counter() - t0 < 2 * STALL_S


def test_client_error_is_not_retried(served):
    url, _ = served
    missing = url.replace("g.nc", "missing.nc")
    with pytest.raises(DapRequestError, match="after 1 attempt.*missing.nc"):
        DapDataset(missing)
