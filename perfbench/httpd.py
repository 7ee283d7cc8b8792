"""Loopback HTTP server for the ``drain`` workload.

Serves the synthetic corpus (``testing.datagen.corpus_row``) with each
page's own status and body, no politeness sleeps. Clients reach it as
an HTTP forward proxy (``urllib3.ProxyManager``), so request lines carry
absolute URLs such as ``GET http://host0.example/p/3.html HTTP/1.1`` and
the corpus host names need no DNS. A URL outside the corpus is a 404.

One asyncio event loop serves every connection on one thread; a second
thread only watches stdin. Prints ``PORT <n>`` once listening, exits on
SIGTERM or when stdin closes (the benchmark process went away).

    python3 perfbench/httpd.py --n-pages 100 --n-hosts 4 --links 8 --seed 1
"""

from __future__ import annotations

import argparse
import asyncio
import os
import signal
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_REASONS = {200: "OK", 404: "Not Found", 500: "Internal Server Error"}


def corpus_pages(n_pages: int, n_hosts: int, links: int, seed: int) -> dict[str, tuple[int, bytes]]:
    from dotnetspider_spark.testing.datagen import CorpusConfig, corpus_row

    cfg = CorpusConfig(
        n_pages=n_pages, n_hosts=n_hosts, seed=seed, with_payload=False,
        links_per_page=links,
    )
    rows = (corpus_row(i, cfg) for i in range(n_pages))
    return {r["url"]: (r["status"], r["html"].encode("utf-8")) for r in rows}


def response(pages: dict, url: str) -> bytes:
    status, body = pages.get(url, (404, b"<html><body>not found</body></html>"))
    head = (
        f"HTTP/1.1 {status} {_REASONS.get(status, 'Status')}\r\n"
        "Content-Type: text/html; charset=utf-8\r\n"
        f"Content-Length: {len(body)}\r\n"
        "Connection: keep-alive\r\n\r\n"
    )
    return head.encode("latin-1") + body


async def _serve_conn(pages, reader, writer) -> None:
    try:
        while True:
            line = await reader.readline()
            if not line.strip():
                break
            headers = {}
            while True:
                h = await reader.readline()
                if h in (b"\r\n", b"\n", b""):
                    break
                k, _, v = h.decode("latin-1").partition(":")
                headers[k.strip().lower()] = v.strip()
            parts = line.decode("latin-1").split()
            if len(parts) != 3:
                break
            writer.write(response(pages, parts[1]))
            await writer.drain()
            if headers.get("connection", "").lower() == "close":
                break
    except ConnectionError:
        pass
    finally:
        writer.close()


async def _main(pages) -> None:
    loop = asyncio.get_running_loop()
    done = asyncio.Event()
    loop.add_signal_handler(signal.SIGTERM, done.set)

    def watch_stdin():
        sys.stdin.buffer.read()  # returns at EOF: the parent is gone
        loop.call_soon_threadsafe(done.set)

    threading.Thread(target=watch_stdin, daemon=True).start()
    server = await asyncio.start_server(
        lambda r, w: _serve_conn(pages, r, w), "127.0.0.1", 0
    )
    port = server.sockets[0].getsockname()[1]
    print(f"PORT {port}", flush=True)
    async with server:
        await done.wait()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-pages", type=int, required=True)
    ap.add_argument("--n-hosts", type=int, required=True)
    ap.add_argument("--links", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    asyncio.run(_main(corpus_pages(a.n_pages, a.n_hosts, a.links, a.seed)))
    # the stdin watcher may still be blocked in read(); do not wait for it
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
