"""Serving tier (SURVEY §7 phase 5): the reference chatbot's HTTP
surface (reference: chatbot/app.py routes /health /collection/info
/query /search /case/fetch /case/summarize-stream) re-exposed over the
engine's parquet mirror — stdlib http.server only, no web framework
required.

Batch/online split per the SURVEY north star: heavy lifting (ingest,
indexing) is Spark batch; this tier serves single questions by running
the same hybrid-RRF plan over the mirror.  The deterministic fake LLM
answers summaries; a real client plugs in behind `summarize`.

Latency note: each request plans and runs the hybrid search over the
cached mirror.  The question frame is a 1-row LocalRelation (no Python
worker) and the rp_lsh index is bucketed once in __init__, so a request
buckets only its question.  On a 4-core host over the benchmark's
600-doc index (perfbench serve_queries, 10 interleaved pairs with the
previous code), the median request went from 2.51 s to 0.93 s; one
traced request went from 12 jobs / 21 tasks / 3.9 s of task time to
9 jobs / 9 tasks / 0.12 s, and about three quarters of what is left is
driver time (planning).  Init grew from 0.6 s to 1.2 s for the index.
A production deployment serves the online path from Qdrant exactly as
the reference does (SURVEY §3 E2) and keeps this tier for
batch-parity debugging.
"""

from __future__ import annotations

import json
import threading
import time
from collections.abc import Callable, Iterator
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession

from lawlm_spark.functions.llm import MAX_CONTEXT_CHARS, fake_llm_summary_py
from lawlm_spark.localdata import local_rows
from lawlm_spark.operators.similarity import derive_num_planes, rp_lsh_index
from lawlm_spark.plans.rag import EMBED_DIM, rag_answer
from lawlm_spark.sources.mirror import mirror_stats, scan_mirror

TRUNCATION_MARKER = "\n\n[Document truncated due to length...]"  # app.py:651-654
SSE_CHUNK_CHARS = 64


def default_pdf_extractor(data: bytes) -> str:  # pragma: no cover - needs pypdf
    """Reference app.py:585-591: PyPDF2 page loop joined by newlines.
    Gated: pypdf is not in this container (permanent gate, COVERAGE.md)."""
    import io

    try:
        import pypdf  # noqa: PLC0415
    except ImportError as e:
        raise NotImplementedError("PDF extraction requires pypdf") from e
    reader = pypdf.PdfReader(io.BytesIO(data))
    return "".join(page.extract_text() + "\n" for page in reader.pages)


class RagService:
    """Query service over a (chunks, postings) parquet mirror.

    `case_fetcher(url) -> bytes` and `pdf_extractor(bytes) -> str` are
    injectable (network/pypdf are unavailable here); unconfigured, the
    case routes answer 503 like the reference's OpenAI-unavailable path
    (app.py:644-647).
    """

    def __init__(
        self,
        spark: SparkSession,
        chunks_path: str,
        postings_path: str,
        case_fetcher: Callable[[str], bytes] | None = None,
        pdf_extractor: Callable[[bytes], str] = default_pdf_extractor,
        dense_retriever: str = "rp_lsh",
        retriever_opts: dict | None = None,
    ):
        # rp_lsh is the default since r5: the bucketed dense path is
        # oracle-certified (d8b at shipped defaults, r4_hybrid_ann for the
        # composition) and is the plan that survives 100 TB — brute-force
        # cosine over the full mirror stays available via
        # dense_retriever='brute' for debugging/recall baselines.
        self.spark = spark
        # cached AND eagerly forced: the first /query fans each mirror
        # into the sparse and dense retrieval branches concurrently, and
        # a lazy cache makes the branches race to populate it ('Block
        # already exists' warnings, each branch computing the partition
        # — the same race the bench fixed in r3).  Startup pays the two
        # scans once.
        self.chunks = scan_mirror(spark, chunks_path).cache()
        self.postings = scan_mirror(spark, postings_path).cache()
        self.chunks.count()
        self.postings.count()
        self.case_fetcher = case_fetcher
        self.pdf_extractor = pdf_extractor
        self.dense_retriever = dense_retriever
        self.retriever_opts = dict(retriever_opts or {})
        self._stats: dict | None = None
        # rp_lsh index once, query many: the plane count comes from the
        # cached collection stats (no corpus scan per request) and the
        # bucketed corpus projection is cached and forced here, so a
        # request buckets only its own question
        self.num_planes: int | None = None
        self.lsh_index: DataFrame | None = None
        if dense_retriever == "rp_lsh":
            self.num_planes = self.retriever_opts.get("num_planes") or derive_num_planes(
                self.retriever_opts.get("n_vectors") or self.collection_info()["points_count"]
            )
            self.lsh_index = rp_lsh_index(
                self.chunks, "chunk_key", "embedding", EMBED_DIM, self.num_planes
            ).cache()
            self.lsh_index.count()

    def close(self) -> None:
        """Release the cached frames, leaving the session as it was."""
        for df in (self.chunks, self.postings, self.lsh_index):
            if df is not None:
                df.unpersist()

    def health(self) -> dict:
        return {"status": "healthy", "engine": "lawlm_spark"}

    def refresh_stats(self) -> dict:
        """Recompute collection stats (call after a mirror write).  The
        mirror is immutable between writes, so /collection/info serves
        this cached row instead of a full scan per request — at 100 TB a
        health dashboard must not trigger count(DISTINCT) every refresh."""
        row = mirror_stats(self.chunks, "point_id").collect()[0]
        self._stats = {
            "points_count": row["points_count"],
            "vectors_count": row["vectors_count"],
            "distinct_keys": row["distinct_keys"],
            "status": "green",
        }
        return self._stats

    def collection_info(self) -> dict:
        return self._stats if self._stats is not None else self.refresh_stats()

    def fetch_case(self, download_url: str, case_name: str, chunk_text: str) -> dict:
        """O9 serving half (reference /case/fetch, app.py:546-613):
        download_url -> PDF bytes -> page-wise text."""
        data = self.case_fetcher(download_url)  # type: ignore[misc]
        full_text = self.pdf_extractor(data)
        return {
            "case_name": case_name,
            "full_text": full_text,
            "chunk_text": chunk_text,
            "success": True,
            "text_length": len(full_text),
        }

    def summarize_case_stream(
        self, case_name: str, full_text: str, chunk_text: str, user_question: str
    ) -> Iterator[str]:
        """Reference /case/summarize-stream (app.py:616-719): truncate at
        12k chars, assemble the case prompt, stream the summary as SSE
        `data:` events ending with [DONE].  The fake LLM's output streams
        in fixed-size deltas; each delta is JSON-encoded so newlines
        survive SSE framing (the reference relays raw deltas, which can
        break framing — deviation documented)."""
        if len(full_text) > MAX_CONTEXT_CHARS:
            full_text = full_text[:MAX_CONTEXT_CHARS] + TRUNCATION_MARKER
        prompt = (
            f"Case Name: {case_name}\n\n"
            f"User's Question: {user_question}\n\n"
            f"Relevant Passage from Search:\n{chunk_text[:500]}\n\n"
            f"Full Case Text:\n{full_text}\n\n"
            "Please provide a comprehensive summary that answers the "
            "user's question based on this case."
        )  # app.py:656-677 shape
        summary = fake_llm_summary_py(prompt)
        for i in range(0, len(summary), SSE_CHUNK_CHARS):
            yield f"data: {json.dumps(summary[i : i + SSE_CHUNK_CHARS])}\n\n"
        yield "data: [DONE]\n\n"

    def query(self, question: str, limit: int = 3) -> dict:
        """Reference response shape: app.py:362-369."""
        t0 = time.perf_counter()
        q = local_rows(self.spark, [(0, question)], "query_id long, question string")
        opts = dict(self.retriever_opts)
        if self.dense_retriever == "rp_lsh":
            opts.update(num_planes=self.num_planes, indexed=self.lsh_index)
        rows = rag_answer(
            self.chunks, self.postings, q, k=limit,
            dense_retriever=self.dense_retriever, retriever_opts=opts,
        ).collect()
        r = rows[0] if rows else None
        return {
            "question": question,
            "summary": r["summary"] if r else "",
            "sources": r["context"].split("\n\n") if r and r["context"] else [],
            "search_type": (
                "hybrid_rrf"
                if self.dense_retriever == "brute"
                else f"hybrid_rrf_{self.dense_retriever}"
            ),
            "documents_found": r["n_sources"] if r else 0,
            "processing_time": round(time.perf_counter() - t0, 3),
        }


def make_handler(service: RagService):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet test output
            pass

        def _send(self, payload: dict, code: int = 200) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            if self.path == "/health":
                self._send(service.health())
            elif self.path == "/collection/info":
                self._send(service.collection_info())
            else:
                self._send({"error": "not found"}, 404)

        def _read_json(self) -> dict | None:
            try:
                n = int(self.headers.get("Content-Length", "0"))
                body = json.loads(self.rfile.read(n) or b"{}")
            except (ValueError, json.JSONDecodeError):
                # malformed Content-Length header or body -> caller's 400
                return None
            return body if isinstance(body, dict) else None

        def do_POST(self):
            if self.path in ("/query", "/search"):
                req = self._read_json()
                try:
                    question = req["question"]
                    limit = int(req.get("limit", 3))
                except (TypeError, KeyError, ValueError):
                    # malformed body, missing question, or non-numeric limit
                    self._send({"error": "body must be JSON with 'question'"}, 400)
                    return
                self._send(service.query(question, limit))
            elif self.path == "/case/fetch":
                req = self._read_json()
                if req is None or "download_url" not in req:
                    self._send({"error": "Missing 'download_url' field in request body"}, 400)
                    return
                if service.case_fetcher is None:
                    self._send({"error": "case fetching not configured", "success": False}, 503)
                    return
                try:
                    self._send(
                        service.fetch_case(
                            req["download_url"],
                            req.get("case_name", "Unknown Case"),
                            req.get("chunk_text", ""),
                        )
                    )
                except NotImplementedError as e:
                    self._send({"error": str(e), "success": False}, 503)
                except Exception as e:  # fetch/parse failure (app.py:602-612)
                    self._send({"error": str(e), "success": False}, 500)
            elif self.path == "/case/summarize-stream":
                req = self._read_json()
                if req is None or "full_text" not in req:
                    self._send({"error": "Missing 'full_text' field in request body"}, 400)
                    return
                self.send_response(200)
                self.send_header("Content-Type", "text/event-stream")
                self.send_header("Cache-Control", "no-cache")
                self.end_headers()
                # Headers are already sent: a mid-stream failure can't
                # become an HTTP error code, so surface it as an SSE
                # error event and still terminate with [DONE] rather
                # than silently truncating the stream.
                try:
                    for event in service.summarize_case_stream(
                        req.get("case_name", "Unknown Case"),
                        req["full_text"],
                        req.get("chunk_text", ""),
                        req.get("user_question", ""),
                    ):
                        self.wfile.write(event.encode())
                        self.wfile.flush()
                except Exception as e:  # noqa: BLE001 - stream already open
                    try:
                        err = json.dumps({"error": str(e)})
                        self.wfile.write(f"event: error\ndata: {err}\n\ndata: [DONE]\n\n".encode())
                        self.wfile.flush()
                    except OSError:
                        pass  # client gone; nothing left to close cleanly
            else:
                self._send({"error": "not found"}, 404)

    return Handler


def serve(service: RagService, port: int = 0) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Start the HTTP tier on `port` (0 = ephemeral).  Returns (server,
    thread); call server.shutdown() to stop."""
    httpd = ThreadingHTTPServer(("127.0.0.1", port), make_handler(service))
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    return httpd, thread
