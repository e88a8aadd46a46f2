"""get_spark must not touch host settings unless asked to."""

import builtins
import io

from agr_loader_spark import session

SYSCTL = "/proc/sys/net/ipv4/tcp_congestion_control"


def _recording_open(monkeypatch, current="bbr"):
    calls, written = [], []
    real_open = builtins.open

    class _Sink(io.StringIO):
        def close(self):
            written.append(self.getvalue())
            super().close()

    def fake_open(path, mode="r", *args, **kwargs):
        if path != SYSCTL:
            return real_open(path, mode, *args, **kwargs)
        calls.append(mode)
        return _Sink() if "w" in mode else io.StringIO(current)

    monkeypatch.setattr(builtins, "open", fake_open)
    return calls, written


def test_loopback_workaround_is_opt_in(monkeypatch):
    calls, _ = _recording_open(monkeypatch)
    for value in (None, "0", "", "yes"):
        if value is None:
            monkeypatch.delenv("SPARK_GRAFT_LOOPBACK_CC_FIX", raising=False)
        else:
            monkeypatch.setenv("SPARK_GRAFT_LOOPBACK_CC_FIX", value)
        session._loopback_tcp_workaround()
    assert calls == []


def test_loopback_workaround_runs_when_set(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOOPBACK_CC_FIX", "1")
    calls, written = _recording_open(monkeypatch, current="bbr")
    session._loopback_tcp_workaround()
    assert calls == ["r", "w"] and written == ["cubic"]
    # a host that does not run BBR is left alone
    calls2, written2 = _recording_open(monkeypatch, current="cubic")
    session._loopback_tcp_workaround()
    assert calls2 == ["r"] and written2 == []
