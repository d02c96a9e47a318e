"""Markdown-blob upload sink (reference app/main.py:855-868 + 1115-1117):
completed docs' markdown uploads under markdown/{doc_id}/{filename} through
the MediaStore — LocalMediaStore and the S3/R2 object store both — with
reference filename fallback and derived public URLs."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from docling_service_spark.corpus import corpus_df, source_meta
from docling_service_spark.sparkio.checkpoint import SnapshotStore, run_incremental
from docling_service_spark.sparkio.media_sink import (
    markdown_filename,
    markdown_key,
    markdown_urls,
    upload_batch_markdown,
    upload_markdown,
)
from docling_service_spark.sparkio.pipeline import run_extraction, strip_instrumentation
from docling_service_spark.storage import (
    FakeS3Client,
    LocalMediaStore,
    ObjectStoreMediaStore,
)

CFG = {
    "enabled": True,
    "account_id": "acct123",
    "access_key_id": "AK",
    "secret_access_key": "SK",
    "bucket_name": "media",
    "public_url_base": "https://cdn.example.com",
}


def test_filename_and_key_shapes():
    # Reference app/main.py:860-864: original name, .md appended, task-id
    # fallback.
    assert markdown_filename("t1", "report.md") == "report.md"
    assert markdown_filename("t1", "report.pdf") == "report.pdf.md"
    assert markdown_filename("t1", None) == "t1.md"
    assert markdown_key("t1", "a.pdf") == "markdown/t1/a.pdf.md"
    assert markdown_key("t1") == "markdown/t1/t1.md"


def _extracted(spark, n=24):
    corpus = corpus_df(spark, n, partitions=2, include_source=True)
    out = strip_instrumentation(run_extraction(corpus)).persist()
    names = corpus.select("doc_id", F.col("source.original_name").alias("original_name"))
    return corpus, out, names


def test_upload_markdown_local_store(spark, tmp_path):
    base = str(tmp_path / "store")
    _, out, names = _extracted(spark)
    n = upload_markdown(out, base, names_df=names)
    completed = out.filter(F.col("status") == "completed").collect()
    assert n == len(completed) > 0

    by_id = {r["doc_id"]: r["markdown"] for r in completed}
    for doc_id, md in by_id.items():
        idx = int(doc_id.rsplit("-", 1)[1])
        src = source_meta(idx, doc_id)
        path = os.path.join(base, markdown_key(doc_id, src["original_name"]))
        assert os.path.exists(path), path
        assert open(path, encoding="utf-8").read() == md
    # url-kind docs (original_name None) fall back to {doc_id}.md.
    url_doc = next(d for d in by_id if int(d.rsplit("-", 1)[1]) % 4 == 0)
    assert os.path.exists(os.path.join(base, f"markdown/{url_doc}/{url_doc}.md"))

    # Idempotent re-run: same keys, same count, bytes unchanged.
    assert upload_markdown(out, base, names_df=names) == n
    out.unpersist()


def _tree(base):
    out = {}
    for root, _dirs, files in os.walk(base):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), base)] = fh.read()
    return out


def test_batch_upload_of_an_incremental_run(spark, tmp_path):
    """An incremental run's buckets hold only its input's docs, so its
    batch upload equals a direct upload of the committed rows: without a
    batch every blob is named {doc_id}.md, and with the source-carrying
    input every blob takes its source's original name."""
    corpus = corpus_df(spark, 24, partitions=2, include_source=True)
    root = str(tmp_path / "table")
    run = run_incremental(spark, corpus, root, n_buckets=4, run_id="r")
    out = SnapshotStore(root).read_output(spark)
    names = corpus.select("doc_id", F.col("source.original_name").alias("original_name"))
    for batch, names_df, tag in ((None, None, "plain"), (corpus, names, "named")):
        got, want = str(tmp_path / f"{tag}_got"), str(tmp_path / f"{tag}_want")
        n = upload_batch_markdown(spark, root, batch, run["buckets"], got)
        assert n == upload_markdown(out, want, names_df=names_df) > 0
        assert _tree(got) == _tree(want)


def test_upload_markdown_object_store(spark, tmp_path):
    root = str(tmp_path / "s3")
    _, out, names = _extracted(spark)

    def factory():
        return ObjectStoreMediaStore(CFG, client=FakeS3Client(root=root))

    n = upload_markdown(out, None, names_df=names, store_factory=factory)
    md_dir = os.path.join(root, "media", "markdown")
    assert n > 0 and len(os.listdir(md_dir)) == n  # one dir per doc_id
    probe = FakeS3Client(root=root)
    some_doc = os.listdir(md_dir)[0]
    fname = os.listdir(os.path.join(md_dir, some_doc))[0]
    head = probe.head_object(Bucket="media", Key=f"markdown/{some_doc}/{fname}")
    assert head["ContentLength"] > 0
    out.unpersist()


def test_upsert_overwrites_markdown_last_writer_wins(tmp_path):
    # Doc-addressed keys: a changed doc's re-upload must REPLACE the blob
    # (not dedup-skip like the content-addressed image sink).
    store = LocalMediaStore(str(tmp_path))
    key = markdown_key("d1", "a.pdf")
    store.put_bytes(key, b"v1")
    store.put_bytes(key, b"v2")
    assert open(store.url_for(key), "rb").read() == b"v2"


def test_markdown_urls_match_store_url_for(spark, tmp_path):
    base = str(tmp_path / "store")
    _, out, names = _extracted(spark, n=12)
    local = LocalMediaStore(base)
    urls = {r["doc_id"]: r["markdown_url"]
            for r in markdown_urls(out, local, names_df=names).collect()}
    assert urls
    for doc_id, url in urls.items():
        idx = int(doc_id.rsplit("-", 1)[1])
        src = source_meta(idx, doc_id)
        assert url == local.url_for(markdown_key(doc_id, src["original_name"]))

    cdn = ObjectStoreMediaStore(CFG, client=FakeS3Client())
    curls = dict(markdown_urls(out, cdn, names_df=names).collect())
    for doc_id, url in curls.items():
        assert url.startswith("https://cdn.example.com/markdown/")
        idx = int(doc_id.rsplit("-", 1)[1])
        assert url == cdn.url_for(markdown_key(doc_id, source_meta(idx, doc_id)["original_name"]))
    out.unpersist()
