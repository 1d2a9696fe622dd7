"""T1 — distributed == local: the Spark codegen stage reproduces the kernel
per url (catches Arrow/encoding drift), on the synthetic pages table."""

from __future__ import annotations

import re

import numpy as np

from iscc_specs_spark import kernel
from iscc_specs_spark.operators.codegen import compute_codes, _extract_title
from iscc_specs_spark.sources.pages import generate_pages, generate_pages_with_truth


def test_codes_match_kernel(spark):
    pages = generate_pages(spark, 300, partitions=4)
    codes = compute_codes(pages).toPandas().set_index("url")
    local = {
        r["url"]: r
        for r in generate_pages(spark, 300, partitions=2).toPandas().to_dict("records")
    }
    assert len(codes) == 300
    for url, row in local.items():
        got = codes.loc[url]
        title = _extract_title(row["html"])
        mid, title_t, _ = kernel.meta_id(title)
        assert got["meta_id"] == mid, url
        assert got["title"] == title_t
        cid, mh, sim, nf = kernel.content_id_text_full(row["text"])
        assert got["content_id"] == cid, url
        assert got["n_features"] == nf
        assert np.uint64(np.int64(got["simhash"])) == np.uint64(sim)
        assert [int(v) for v in got["minhash"]] == [
            int(np.int64(np.uint64(v))) for v in mh
        ]
        assert got["data_id"] == kernel.data_id(row["html"])
        iid, tophash = kernel.instance_id(row["html"])
        assert got["instance_id"] == iid
        assert got["tophash"] == tophash
        # LONG body carriers decode to the code bodies
        assert kernel.decode(cid)[1:] == int(np.uint64(np.int64(got["cid_body"]))).to_bytes(8, "big")


def test_generator_determinism_across_partitionings(spark):
    a = generate_pages_with_truth(spark, 200, partitions=2).toPandas().sort_values("url")
    b = generate_pages_with_truth(spark, 200, partitions=7).toPandas().sort_values("url")
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))
    # planted structure sanity
    counts = a.groupby("cluster_id").size()
    assert counts.get("farm", 0) >= 1
    assert (counts[counts.index.str.startswith("c")] >= 2).all()


def test_codes_scan_prunes_lang(spark, tmp_path):
    """The codes stage's parquet scan reads exactly the four columns the
    codes are computed from; ``lang`` is pruned at the scan."""
    path = str(tmp_path / "pages.parquet")
    generate_pages(spark, 50, partitions=2).write.parquet(path)
    codes = compute_codes(spark.read.parquet(path))
    plan = codes._jdf.queryExecution().executedPlan().toString()
    scan = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(scan) == 1, plan
    cols = {f.split(":")[0] for f in scan[0].split(",")}
    assert cols == {"url", "warc_ts", "text", "html"}, scan
