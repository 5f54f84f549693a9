"""The loopback feature layer (``agol_pandas_spark.sources.http_mock
.serve_layer``) in a child process, so the service's CPU is not charged to
the benchmark's driver process.

The child runs as ``python3 -m perfbench.layer_server <layer.json>
<max_record_count>``, where ``layer.json`` holds ``{"fields", "rows"}``.
It prints its port, then answers one command per stdin line:

- ``counts``: one JSON line of service-side counters;
- ``dump <path>``: writes the store and the counters to ``path`` as JSON;
- ``quit`` (or end of input): stops the server and exits.

:class:`LayerService` is the parent side.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class LayerService:
    """Starts the child, talks to it, and stops it."""

    def __init__(self, work: str, fields: list[dict], rows: list[dict], cap: int):
        self.work = work
        path = os.path.join(work, "layer.json")
        with open(path, "w") as f:
            json.dump({"fields": fields, "rows": rows}, f)
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.layer_server", path, str(cap)],
            cwd=ROOT,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        port = int(self.proc.stdout.readline())
        self.url = f"http://127.0.0.1:{port}/FeatureServer/0"

    def _ask(self, cmd: str) -> str:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self.proc.stdout.readline()

    def counts(self) -> dict:
        """``requests``, ``useful`` (responses with a row or a successful
        edit) and ``bytes_in`` (request body bytes), since start."""
        return json.loads(self._ask("counts"))

    def store(self) -> list[dict]:
        """The service's rows."""
        path = os.path.join(self.work, "store.json")
        self._ask(f"dump {path}")
        with open(path) as f:
            return json.load(f)["rows"]

    def close(self) -> None:
        try:
            self.proc.stdin.write("quit\n")
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def main() -> None:
    from agol_pandas_spark.sources.http_mock import serve_layer

    layer_path, cap = sys.argv[1], int(sys.argv[2])
    with open(layer_path) as f:
        layer = json.load(f)
    rows = layer["rows"]
    srv, _seen = serve_layer(rows, layer["fields"], max_record_count=cap)
    counts = {"requests": 0, "useful": 0, "bytes_in": 0}
    lock = threading.Lock()
    base = srv.RequestHandlerClass

    class Counting(base):
        """Counts every request, the responses that carried at least one
        row or one successful edit, and request body bytes."""

        def _send(self, body: dict) -> None:
            edits = body.get("addResults", []) + body.get("updateResults", [])
            with lock:
                counts["requests"] += 1
                if body.get("features") or any(r.get("success") for r in edits):
                    counts["useful"] += 1
            super()._send(body)

        def do_POST(self):
            with lock:
                counts["bytes_in"] += int(self.headers.get("Content-Length", 0))
            super().do_POST()

    # no request has arrived yet: the port is announced only below
    srv.RequestHandlerClass = Counting
    print(srv.server_address[1], flush=True)
    try:
        for line in sys.stdin:
            cmd, _, arg = line.strip().partition(" ")
            if cmd == "counts":
                with lock:
                    print(json.dumps(counts), flush=True)
            elif cmd == "dump":
                with lock, open(arg, "w") as f:
                    json.dump({"rows": rows, "counts": counts}, f)
                print("ok", flush=True)
            elif cmd == "quit":
                break
    finally:
        srv.shutdown()
        srv.server_close()


if __name__ == "__main__":
    main()
