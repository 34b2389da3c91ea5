"""Measurement taken from outside the program: timed wrappers around the
public entry points of the layer modules, a py4j round-trip counter, a
process-tree RSS sampler and a count of Python-UDF nodes in a plan.

Nothing here changes what the program computes. ``LayerTimer.install``
must run before ``fugue_spark.benchmarks`` is imported, because the query
modules bind some entry points (``from fugue_spark.pipeline import ...``)
at import time.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import re
import threading
import time
from collections import defaultdict

# layer name -> module whose public functions are wrapped
LAYER_MODULES = {
    "transform": "fugue_spark.transform",
    "cotransform": "fugue_spark.cotransform",
    "sql": "fugue_spark.sql",
    "pipeline": "fugue_spark.pipeline",
    "api": "fugue_spark.api",
}

PYTHON_UDF_NODE = re.compile(
    r"\b(MapInPandas|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|ArrowEvalPython"
    r"|BatchEvalPython|MapInArrow|PythonMapInArrow)\b"
)


class LayerTimer:
    """Inclusive wall time and call count per layer. A call into a layer
    made while that layer is already on the stack is part of the outer
    call and is not counted again; calls into other layers are."""

    def __init__(self) -> None:
        self.active = False
        self.seconds: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._depth: dict[str, int] = defaultdict(int)

    def reset(self) -> None:
        self.seconds.clear()
        self.calls.clear()

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            if not self.active or self._depth[layer]:
                return fn(*args, **kwargs)
            self._depth[layer] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[layer] += time.perf_counter() - t0
                self.calls[layer] += 1
                self._depth[layer] -= 1

        return timed

    def install(self) -> None:
        """Wrap every public function of each layer module that is defined
        in the program. ``api`` goes last: it re-exports entry points of
        the other layers, and a call through it counts for both."""
        wrapped: dict[int, object] = {}
        for layer, modname in LAYER_MODULES.items():
            mod = importlib.import_module(modname)
            for name, obj in list(vars(mod).items()):
                if (
                    not name.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__.startswith("fugue_spark")
                ):
                    key = id(obj)
                    wrapped[key] = self._wrap(layer, wrapped.get(key, obj))
                    setattr(mod, name, wrapped[key])


class Py4jCounter:
    """Counts driver-to-JVM commands sent over py4j."""

    def __init__(self) -> None:
        self.count = 0

    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection
        from py4j.java_gateway import GatewayConnection

        for cls in (ClientServerConnection, GatewayConnection):
            send = cls.send_command

            def counted(conn, command, *args, _send=send, **kwargs):
                self.count += 1
                return _send(conn, command, *args, **kwargs)

            cls.send_command = counted


def _tree_status(root: int) -> list[dict[str, str]]:
    """The ``/proc/<pid>/status`` fields of ``root`` and its live
    descendants."""
    children: dict[int, list[int]] = defaultdict(list)
    status: dict[int, dict[str, str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        pid = int(entry)
        children[int(fields.get("PPid", "0").strip())].append(pid)
        status[pid] = fields
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in status:
            out.append(status[pid])
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_kb(root: int) -> int:
    return sum(int(s.get("VmRSS", "0 kB").split()[0]) for s in _tree_status(root))


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds, user and system, that ``root`` and its live descendants
    have used, with their reaped children's. The kernel leaves out the time
    the hypervisor gave to other guests (steal), which wall time includes."""
    total = 0
    for s in _tree_status(root):
        try:
            with open(f"/proc/{s['Pid'].strip()}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        total += sum(int(v) for v in fields[11:15])
    return total * _TICK_S


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled on a background thread."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def python_udf_nodes(plan_string: str) -> int:
    return len(PYTHON_UDF_NODE.findall(plan_string))
