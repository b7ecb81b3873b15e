"""Driver-side single-thread probes of two layers, on the workload's own
generated documents: the annotators (``annotate_record``, all modes and
each mode alone with its dependencies already present) and the Thrift
codec (encode and decode of Record blobs)."""

from __future__ import annotations

import random
import time

import gen

N_PROBE = 100


def _sample(rows: list[dict], seed: int) -> list[dict]:
    return random.Random(f"probe:{seed}").sample(rows, min(N_PROBE, len(rows)))


def annotators(rows: list[dict], seed: int) -> dict:
    from curatorhadoopinterface_spark.annotators.light import annotate_record
    from curatorhadoopinterface_spark.plans.registry import MODES, dependency_closure

    docs = [r["raw_text"] for r in _sample(rows, seed)]
    modes = list(MODES)
    t0 = time.perf_counter()
    for text in docs:
        annotate_record(text, {}, modes)
    out = {"annotators.record_docs_per_s": len(docs) / (time.perf_counter() - t0)}
    for mode in modes:
        deps = [m for m in dependency_closure(mode) if m != mode]
        bases = [annotate_record(text, {}, deps) for text in docs]
        busy = 0.0
        for text, base in zip(docs, bases):
            views = dict(base)
            t = time.perf_counter()
            annotate_record(text, views, [mode])
            busy += time.perf_counter() - t
        out[f"annotators.us_per_doc.{mode}"] = busy / len(docs) * 1e6
    return out


def thrift_codec(rows: list[dict], seed: int) -> dict:
    from curatorhadoopinterface_spark.thrift_codec import decode_thrift_record, encode_thrift_record

    recs = [r if "label_views" in r else gen.reference_record(r) for r in _sample(rows, seed)]
    t0 = time.perf_counter()
    blobs = [encode_thrift_record(r) for r in recs]
    t1 = time.perf_counter()
    for b in blobs:
        decode_thrift_record(b)
    t2 = time.perf_counter()
    n = len(recs)
    return {
        "thrift_codec.encode_us_per_doc": (t1 - t0) / n * 1e6,
        "thrift_codec.decode_us_per_doc": (t2 - t1) / n * 1e6,
        "io.thrift_bytes_per_doc": sum(len(b) for b in blobs) / n,
    }
