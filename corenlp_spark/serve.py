"""HTTP annotation server: the interactive front-end over the Spark engine.

Behavioral reference (re-expressed): ``pipeline/StanfordCoreNLPServer.java``
  - ``POST /annotate?properties={...}`` with the raw text as the request
    body → annotated output in the requested format (:51-90, 598-700);
  - ``GET /ping`` → ``pong`` liveness probe (:447);
  - ``GET /shutdown?key=…`` guarded by a per-process shutdown key (:470-489,
    the reference writes the key to a temp file; here it is returned by
    ``start()``);
  - properties: ``annotators`` (comma list) and ``outputFormat``
    (json / conll / conllu / tsv / text / xml), matching the reference's
    per-request pipeline configuration.

The request path is a one-document DataFrame through the SAME operators and
outputters the batch engine uses — the server is a thin process-boundary
shim, not a second engine (SURVEY.md §3.3). Thread-per-request like the
reference's ``HttpServer``; the shared SparkSession serializes job
scheduling internally (fair for the tiny one-row plans involved).
"""

from __future__ import annotations

import json
import secrets
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_FORMATS = ("json", "conll", "conllu", "tsv", "text", "xml")


def _render(spark, text: str, annotators: str, fmt: str) -> tuple[str, str]:
    """Annotate one text and render it → (content_type, body)."""
    from corenlp_spark.api import Pipeline
    from corenlp_spark.data.synth import text_docs

    docs = text_docs(spark, ["doc"], [text])
    pipe = Pipeline(annotators + ",depparse,coref")
    if fmt == "json":
        return "application/json", pipe.json(docs).first().json
    ann = pipe(docs)
    if fmt == "conll":
        from corenlp_spark.sources.outputters import to_conll

        return "text/plain", to_conll(ann).first().conll
    if fmt == "conllu":
        from corenlp_spark.sources.conllu import to_conllu_lines

        rows = to_conllu_lines(ann).orderBy("sent_idx", "line").collect()
        out, prev = [], None
        for r in rows:
            if prev is not None and r.sent_idx != prev:
                out.append("")
            out.append(r.line)
            prev = r.sent_idx
        return "text/plain", "\n".join(out)
    if fmt == "tsv":
        from corenlp_spark.sources.outputters import to_tsv

        rows = to_tsv(ann).orderBy("sent", "idx").collect()
        return "text/plain", "\n".join(r.tsv for r in rows)
    if fmt == "text":
        from corenlp_spark.sources.outputters import to_text

        return "text/plain", to_text(ann).first().text
    if fmt == "xml":
        from corenlp_spark.sources.outputters import to_xml

        return "application/xml", to_xml(ann).first().xml
    raise ValueError(f"unknown outputFormat {fmt!r} (one of {_FORMATS})")


class CoreNLPServer:
    """``StanfordCoreNLPServer`` analog bound to a SparkSession.

    >>> srv = CoreNLPServer(spark); key = srv.start()
    >>> # POST http://host:port/annotate?properties={"annotators":"..."}
    >>> srv.stop()
    """

    def __init__(self, spark, host: str = "127.0.0.1", port: int = 0,
                 default_annotators: str = "tokenize,ssplit,pos,lemma,ner"):
        self._spark = spark
        self._host, self._port = host, port
        self._default_annotators = default_annotators
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        self._key = secrets.token_hex(16)

    @property
    def url(self) -> str:
        assert self._httpd is not None, "server not started"
        h, p = self._httpd.server_address[:2]
        return f"http://{h}:{p}"

    def start(self) -> str:
        """Bind + serve on a daemon thread; returns the shutdown key."""
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet test runs
                pass

            def _reply(self, code: int, ctype: str, body: str):
                data = body.encode("utf-8")
                self.send_response(code)
                self.send_header("Content-Type", f"{ctype}; charset=utf-8")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def do_GET(self):
                u = urllib.parse.urlparse(self.path)
                if u.path == "/ping":
                    self._reply(200, "text/plain", "pong\n")
                elif u.path == "/shutdown":
                    qs = urllib.parse.parse_qs(u.query)
                    if qs.get("key", [""])[0] == outer._key:
                        self._reply(200, "text/plain", "shutdown\n")
                        threading.Thread(target=outer.stop, daemon=True).start()
                    else:
                        self._reply(403, "text/plain", "bad shutdown key\n")
                else:
                    self._reply(404, "text/plain", "not found\n")

            def do_POST(self):
                u = urllib.parse.urlparse(self.path)
                if u.path != "/annotate":
                    self._reply(404, "text/plain", "not found\n")
                    return
                n = int(self.headers.get("Content-Length", "0"))
                text = self.rfile.read(n).decode("utf-8")
                qs = urllib.parse.parse_qs(u.query)
                props = {}
                if qs.get("properties"):
                    props = json.loads(qs["properties"][0])
                annotators = props.get("annotators", outer._default_annotators)
                fmt = props.get("outputFormat", "json")
                try:
                    ctype, body = _render(outer._spark, text, annotators, fmt)
                    self._reply(200, ctype, body)
                except ValueError as ex:
                    self._reply(400, "text/plain", f"{ex}\n")

        self._httpd = ThreadingHTTPServer((self._host, self._port), Handler)
        self._thread = threading.Thread(target=self._httpd.serve_forever,
                                        daemon=True)
        self._thread.start()
        return self._key

    def stop(self):
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
