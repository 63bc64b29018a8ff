"""OpenAI-compatible ``/v1/chat/completions`` stub for the benchmark.

Runs as its own single-threaded asyncio process so it costs little CPU next
to Spark. Each completion waits a fixed latency and answers with the md5 hex
of the last user message, so outputs are checkable. It speaks HTTP/1.1
keep-alive and honours ``Connection: close``.

Control endpoints (not billable, not counted):

- ``GET /stats``  -> counters since the last reset
- ``POST /reset`` -> zero the counters; a body ``{"latency_ms": x}`` also
  sets the injected latency

Run: ``python3 perfbench/stub.py --latency-ms 200``; it listens on a free
local port and prints the port as its first line on stdout.
"""

from __future__ import annotations

import argparse
import asyncio
import hashlib
import json
import sys
import time


def answer(user: str) -> str:
    """The stub's completion for a user message."""
    return hashlib.md5(user.encode("utf-8")).hexdigest()


class Counters:
    """Billable-request counters. All updates run on the one event loop."""

    def __init__(self) -> None:
        self.reset()

    def reset(self) -> None:
        self.t_reset = time.monotonic()
        self.requests = 0
        self.prompts: set[bytes] = set()
        self.connections = 0
        self.in_flight = 0
        self.peak_in_flight = 0
        self.first_start: float | None = None
        self.last_end: float | None = None
        # Integral of in-flight count over time, and time with >=1 in flight.
        self.in_flight_area = 0.0
        self.busy_s = 0.0
        self._t_last = self.t_reset

    def _advance(self) -> None:
        now = time.monotonic()
        dt = now - self._t_last
        self.in_flight_area += self.in_flight * dt
        if self.in_flight:
            self.busy_s += dt
        self._t_last = now

    def start(self, prompt_key: bytes) -> None:
        self._advance()
        if self.first_start is None:
            self.first_start = self._t_last
        self.requests += 1
        self.prompts.add(prompt_key)
        self.in_flight += 1
        self.peak_in_flight = max(self.peak_in_flight, self.in_flight)

    def end(self) -> None:
        self._advance()
        self.in_flight -= 1
        self.last_end = self._t_last

    def snapshot(self) -> dict:
        self._advance()
        window = (
            (self.last_end - self.first_start)
            if self.first_start is not None and self.last_end is not None
            else 0.0
        )
        return {
            "requests": self.requests,
            "distinct_prompts": len(self.prompts),
            "connections": self.connections,
            "peak_in_flight": self.peak_in_flight,
            "busy_window_s": window,
            "busy_s": self.busy_s,
            "mean_in_flight": self.in_flight_area / window if window > 0 else 0.0,
            "first_request_s": (
                self.first_start - self.t_reset if self.first_start is not None else 0.0
            ),
        }


class Stub:
    def __init__(self, latency_s: float) -> None:
        self.latency_s = latency_s
        self.counters = Counters()

    async def _completion(self, body: bytes) -> tuple[int, dict]:
        try:
            req = json.loads(body)
            messages = req["messages"]
            user = next(m["content"] for m in reversed(messages) if m["role"] == "user")
        except (ValueError, KeyError, StopIteration, TypeError) as e:
            return 400, {"error": {"message": f"bad request: {e}"}}
        key = hashlib.md5(
            json.dumps(messages, sort_keys=True).encode("utf-8")
        ).digest()
        self.counters.start(key)
        try:
            await asyncio.sleep(self.latency_s)
        finally:
            self.counters.end()
        return 200, {
            "id": "chatcmpl-stub",
            "object": "chat.completion",
            "model": req.get("model", "stub"),
            "choices": [
                {
                    "index": 0,
                    "message": {"role": "assistant", "content": answer(user)},
                    "finish_reason": "stop",
                }
            ],
        }

    async def handle(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter) -> None:
        counted = False
        try:
            while True:
                line = await reader.readline()
                if not line:
                    return
                method, path, version = line.decode("latin-1").split(" ", 2)
                headers: dict[str, str] = {}
                while True:
                    h = await reader.readline()
                    if h in (b"\r\n", b"\n", b""):
                        break
                    k, _, v = h.decode("latin-1").partition(":")
                    headers[k.strip().lower()] = v.strip()
                body = await reader.readexactly(int(headers.get("content-length", "0")))
                conn = headers.get("connection", "").lower()
                keep = conn != "close" and (
                    version.strip() == "HTTP/1.1" or conn == "keep-alive"
                )
                if method == "POST" and path.startswith("/v1/chat/completions"):
                    if not counted:
                        self.counters.connections += 1
                        counted = True
                    status, payload = await self._completion(body)
                elif method == "GET" and path == "/stats":
                    status, payload = 200, self.counters.snapshot()
                elif method == "POST" and path == "/reset":
                    self.counters.reset()
                    if body:
                        self.latency_s = float(json.loads(body)["latency_ms"]) / 1000.0
                    status, payload = 200, {"ok": True, "latency_ms": self.latency_s * 1000.0}
                else:
                    status, payload = 404, {"error": {"message": f"no route {path}"}}
                data = json.dumps(payload).encode("utf-8")
                reason = {200: "OK", 400: "Bad Request", 404: "Not Found"}[status]
                writer.write(
                    (
                        f"HTTP/1.1 {status} {reason}\r\n"
                        "Content-Type: application/json\r\n"
                        f"Content-Length: {len(data)}\r\n"
                        f"Connection: {'keep-alive' if keep else 'close'}\r\n\r\n"
                    ).encode("latin-1")
                    + data
                )
                await writer.drain()
                if not keep:
                    return
        except (asyncio.IncompleteReadError, ConnectionError, ValueError):
            return
        finally:
            writer.close()


async def main(latency_s: float) -> None:
    stub = Stub(latency_s)
    server = await asyncio.start_server(stub.handle, "127.0.0.1", 0, backlog=1024)
    print(server.sockets[0].getsockname()[1], flush=True)
    async with server:
        await server.serve_forever()


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--latency-ms", type=float, required=True)
    args = ap.parse_args()
    try:
        asyncio.run(main(args.latency_ms / 1000.0))
    except KeyboardInterrupt:
        sys.exit(0)
