"""Seeded input generators for the four benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
the same files. The program under test only ever sees the files these
functions write (parquet transcripts, JSON objects, a documents and an
embeddings table) and the operation list built here.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np

BASE_EPOCH = 1767225600  # 2026-01-01T00:00:00Z, the datagen epoch
TURN_SPACING_S = 7  # datagen spaces consecutive turns 7 s apart


# ---------------------------------------------------------------------------
# transcripts (batch_ingest, table_ops)
# ---------------------------------------------------------------------------


def transcript_batch(spark, n_turns: int, seed: int, index: int):
    """One batch of `datagen.generate_transcripts` output (Zipf-skewed
    conv_id) moved into its own time window and conversation namespace.

    Batch `index` starts where batch `index - 1` ends, the way an
    append-only source advances: each batch lands in new time
    partitions, and its conversations (prefixed ``b<index>-``) are its
    own, so per-file column bounds stay narrow."""
    from pyspark.sql import functions as F

    from swarm_spark.datagen import generate_transcripts

    shift = index * n_turns * TURN_SPACING_S
    df = generate_transcripts(spark, n_turns, seed=seed * 1000 + index)
    return df.select(
        F.concat(F.lit(f"b{index:03d}-"), F.col("conv_id")).alias("conv_id"),
        "turn_idx", "role", "text", "tool",
        F.timestamp_seconds(F.col("ts").cast("long") + F.lit(shift)).alias("ts"),
    )


def write_transcripts(spark, root: str, n_turns: int, n_batches: int,
                      seed: int) -> list[str]:
    """Write `n_batches` seeded transcript batches as parquet dirs, all
    in one Spark job; returns one dir per batch."""
    from pyspark.sql import functions as F

    df = None
    for i in range(n_batches):
        part = transcript_batch(spark, n_turns, seed, i).withColumn("batch", F.lit(i))
        df = part if df is None else df.unionByName(part)
    df.write.mode("overwrite").partitionBy("batch").parquet(root)
    return [os.path.join(root, f"batch={i}") for i in range(n_batches)]


# ---------------------------------------------------------------------------
# CloudTrail-shaped JSON objects (object_push)
# ---------------------------------------------------------------------------

SOURCES = ("cloudtrail", "k8s-audit")


def _cloudtrail_record(rng: random.Random, obj: int, j: int, evolved: bool) -> dict:
    day = rng.randrange(3)
    rec = {
        "eventVersion": "1.08",
        "eventTime": f"2026-01-{1 + day:02d}T{rng.randrange(24):02d}:"
                     f"{rng.randrange(60):02d}:{rng.randrange(60):02d}Z",
        "eventSource": rng.choice(("s3.amazonaws.com", "ec2.amazonaws.com",
                                   "iam.amazonaws.com", "sts.amazonaws.com")),
        "eventName": rng.choice(("GetObject", "PutObject", "RunInstances",
                                 "AssumeRole", "CreateUser", "ListBuckets")),
        "awsRegion": rng.choice(("us-east-1", "eu-west-1", "ap-northeast-1")),
        "sourceIPAddress": f"10.{rng.randrange(4)}.{rng.randrange(256)}."
                           f"{rng.randrange(256)}",
        "userAgent": rng.choice(("aws-cli/2.15", "console.amazonaws.com",
                                 "Boto3/1.34")),
        "eventID": f"ct-{obj:05d}-{j:04d}-{rng.getrandbits(40):010x}",
        "readOnly": rng.random() < 0.6,
        "userIdentity": {"type": "IAMUser",
                         "principalId": f"AIDA{rng.randrange(10**6):06d}",
                         "accountId": "123456789012"},
        "requestParameters": {"bucketName": f"bucket-{rng.randrange(20)}",
                              "key": f"logs/{rng.randrange(10**6)}.gz"},
    }
    if rng.random() < 0.3:  # optional from the start
        rec["errorCode"] = rng.choice(("AccessDenied", "NoSuchKey"))
    if evolved and rng.random() < 0.5:  # appears partway through the run
        rec["tlsDetails"] = {"tlsVersion": "TLSv1.3",
                             "cipherSuite": "TLS_AES_128_GCM_SHA256"}
    return rec


def _audit_record(rng: random.Random, obj: int, j: int, evolved: bool) -> dict:
    rec = {
        "kind": "Event",
        "auditID": f"au-{obj:05d}-{j:04d}-{rng.getrandbits(40):010x}",
        "stageTimestamp": (BASE_EPOCH + rng.randrange(3 * 86400)) * 1000
                          + rng.randrange(1000),
        "verb": rng.choice(("get", "list", "watch", "create", "delete")),
        "user": {"username": f"user-{rng.randrange(50)}",
                 "groups": ["system:authenticated"]},
        "objectRef": {"resource": rng.choice(("pods", "secrets", "configmaps")),
                      "namespace": f"ns-{rng.randrange(8)}"},
        "responseStatus": {"code": rng.choice((200, 200, 200, 201, 403, 404))},
    }
    if rng.random() < 0.3:
        rec["userAgent"] = "kubectl/v1.30"
    if evolved and rng.random() < 0.5:
        rec["annotations"] = {"authorization.k8s.io/decision": "allow"}
    return rec


def write_objects(root: str, n_objects: int, records: int, seed: int,
                  evolve_at: int, tag: str = "obj") -> list[tuple[str, str, int]]:
    """Write `n_objects` {"Records": [...]} objects under
    root/<source>/; objects from index `evolve_at` on carry new optional
    fields. Returns [(path, source, n_records)] in push order."""
    rng = random.Random(seed)
    out = []
    for o in range(n_objects):
        src = SOURCES[o % len(SOURCES)]
        make = _cloudtrail_record if src == "cloudtrail" else _audit_record
        recs = [make(rng, o, j, o >= evolve_at) for j in range(records)]
        d = os.path.join(root, src)
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f"{tag}{o:05d}.json")
        with open(p, "w") as fh:
            fh.write(json.dumps({"Records": recs}))
        out.append((p, src, len(recs)))
    return out


# ---------------------------------------------------------------------------
# table_ops operation sequence
# ---------------------------------------------------------------------------

READ_TABLE = "sink_errors"  # the most fragmented sink (hour partitions)
COMPACT_TABLE = "sink_tools"  # never read, so compaction never shifts reads

# one cycle of the closed loop; the loop runs whole cycles, and every
# cycle has the same (kind, conversation rank, range width) sequence, so
# only the batch a conversation comes from, where a range starts, and
# the data are seeded
CYCLE = ("point", "range", "count", "delete",
         "point", "range", "count", "update",
         "point", "range", "count", "merge", "compact")
# the cycle's three point reads walk the Zipf curve from its hot head to
# its tail (rank r holds about 1/(r+1) of the hottest conversation's
# turns); DML targets tail conversations, so each rewrites a few dirs
POINT_RANKS = (0, 8, 64)
DML_RANKS = {"delete": 64, "update": 128, "merge": 256}
WIDTH_S = 3600  # time-range reads and count_where cover one hour


def table_ops(n_turns: int, n_batches: int, n_ops: int, seed: int) -> list[dict]:
    """Seeded op list: point reads (conv_id =), time-range reads,
    count_where, and copy-on-write delete/update/merge on READ_TABLE;
    compact only on COMPACT_TABLE."""
    rng = random.Random(seed)
    span_s = n_batches * n_turns * TURN_SPACING_S
    n_convs = max(n_turns // 64, 1)
    points = 0
    ops = []
    for i in range(n_ops):
        kind = CYCLE[i % len(CYCLE)]
        if kind in ("point", "delete", "update", "merge"):
            if kind == "point":
                rank = POINT_RANKS[points % len(POINT_RANKS)]
                points += 1
            else:
                rank = DML_RANKS[kind]
            cid = f"b{rng.randrange(n_batches):03d}-conv-{min(rank, n_convs - 1):08d}"
            ops.append({"kind": kind, "table": READ_TABLE,
                        "preds": [["conv_id", "=", cid]]})
        elif kind in ("range", "count"):
            lo = BASE_EPOCH + rng.randrange(max(span_s - WIDTH_S, 1))
            ops.append({"kind": kind, "table": READ_TABLE,
                        "preds": [["timestamp", ">=", lo],
                                  ["timestamp", "<", lo + WIDTH_S]]})
        else:
            ops.append({"kind": kind, "table": COMPACT_TABLE, "preds": []})
    return ops


# ---------------------------------------------------------------------------
# curation corpus
# ---------------------------------------------------------------------------

VOCAB = ("spark", "table", "stream", "batch", "query", "scan", "sort", "hash",
         "join", "group", "window", "filter", "value", "key", "row", "column",
         "part", "line", "order", "data", "fast", "slow", "big", "small",
         "vector", "merge", "agg", "customer", "the", "a", "index", "file",
         "cache", "shard", "log", "event", "token", "model", "train", "score",
         "rank", "graph", "node", "edge", "commit", "snapshot", "schema", "lake")
LANGS = ("en", "en", "en", "es", "zh", "de", "fr")


def write_corpus(root: str, n_docs: int, n_vecs: int, seed: int) -> None:
    """documents(doc_id, text, lang, source, n_chars) and
    embeddings(vec_id, embedding array<float>, label) in the shape of
    the repo's sf fixtures. The documents carry planted exact copies
    (~1%) and one-token near copies (~3%), the embeddings ten seeded
    clusters plus perturbed copies (~2%), so every dedup stage has
    work to do."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(root, exist_ok=True)
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if texts and r < 0.01:
            texts.append(texts[rng.randrange(len(texts))])
        elif texts and r < 0.04:
            toks = texts[rng.randrange(len(texts))].split(" ")
            toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
            texts.append(" ".join(toks))
        else:
            n = rng.randint(12, 70)
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(n)))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in range(n_docs)], pa.string()),
        "source": pa.array([f"src{rng.randrange(10)}" for _ in range(n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(root, "documents.parquet"))

    g = np.random.default_rng(seed)
    centers = g.normal(0.0, 0.12, size=(10, 64))
    labels = g.integers(0, 10, size=n_vecs)
    vecs = centers[labels] + g.normal(0.0, 0.06, size=(n_vecs, 64))
    copies = g.random(n_vecs) < 0.02
    src = g.integers(0, n_vecs, size=n_vecs)
    vecs[copies] = vecs[src[copies]] + g.normal(0.0, 1e-4, size=(copies.sum(), 64))
    labels[copies] = labels[src[copies]]
    emb = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(),
                              pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })
    pq.write_table(emb, os.path.join(root, "embeddings.parquet"))
