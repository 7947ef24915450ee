"""Model registry (plans/artifacts.py): named, versioned, checksum-
verified tokenizer artifacts — the S8 analog (MODEL_URLS name→artifact
resolution + md5-style trust gate of ``maybe_download``,
paddleocr.py:402-495, ppocr/utils/network.py:55-75).

Pins: save→load roundtrip (artifacts byte-equal, bpe_apply parity
between in-memory and loaded artifacts), version bump + latest/pinned
resolution, fingerprint tamper refusal, and crash-leftover semantics
(a manifest-less version directory is invisible to readers and never
written into by the next save).
"""

import json
import os

import pytest

from webextract.operators.bpe import bpe_apply, bpe_train
from webextract.plans.artifacts import ArtifactError, ModelRegistry

WORDS = [
    "the quick brown fox jumps over the lazy dog",
    "the quicker brown foxes jump over lazy dogs",
    "pack my box with five dozen liquor jugs",
    "the dog jumps the fox the dog the fox",
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(WORDS)], "doc_id long, text string"
    )


def _trained(docs):
    return bpe_train(docs, 6)


def test_registry_roundtrip_and_apply_parity(spark, docs, tmp_path):
    merges, vocab = _trained(docs)
    reg = ModelRegistry(str(tmp_path))
    mf = reg.save_tokenizer(merges, vocab, "web-bpe", corpus="fixture")
    assert mf["version"] == 1
    assert mf["n_merges"] == merges.count()
    assert mf["n_vocab"] == vocab.count()
    assert mf["corpus"] == "fixture"

    lm, lv, loaded_mf = reg.load_tokenizer(spark, "web-bpe")
    assert loaded_mf == mf
    assert sorted(map(tuple, lm.collect())) == sorted(
        map(tuple, merges.collect())
    )
    assert sorted(map(tuple, lv.collect())) == sorted(
        map(tuple, vocab.collect())
    )
    # the deployment seam: tokenizing with LOADED artifacts must equal
    # tokenizing with the in-memory ones
    a = sorted(map(tuple, bpe_apply(docs, merges, vocab=vocab).collect()))
    b = sorted(map(tuple, bpe_apply(docs, lm, vocab=lv).collect()))
    assert a == b


def test_registry_versioning_and_resolution(spark, docs, tmp_path):
    merges, vocab = _trained(docs)
    reg = ModelRegistry(str(tmp_path))
    reg.save_tokenizer(merges, vocab, "web-bpe")
    m2 = reg.save_tokenizer(merges.limit(3), vocab, "web-bpe")
    assert m2["version"] == 2 and m2["n_merges"] == 3
    assert [m["version"] for m in reg.versions("web-bpe")] == [1, 2]
    assert reg.models() == ["web-bpe"]

    _, _, latest = reg.load_tokenizer(spark, "web-bpe")
    assert latest["version"] == 2
    pinned, _, pinned_mf = reg.load_tokenizer(spark, "web-bpe", version=1)
    assert pinned_mf["version"] == 1 and pinned.count() == 6

    with pytest.raises(ArtifactError):
        reg.load_tokenizer(spark, "no-such-model")
    with pytest.raises(ArtifactError):
        reg.load_tokenizer(spark, "web-bpe", version=9)
    for bad in ("../escape", "..", ".", "a/b", ""):
        with pytest.raises(ArtifactError):
            reg.save_tokenizer(merges, vocab, bad)
    # caller metadata must not shadow the integrity fields (and the
    # refusal happens BEFORE any artifact write — no partial dir)
    with pytest.raises(ArtifactError, match="reserved"):
        reg.save_tokenizer(merges, vocab, "web-bpe", version=7)
    assert not os.path.exists(
        os.path.join(str(tmp_path), "web-bpe", "v00003")
    )


def test_registry_refuses_tampered_artifact(spark, docs, tmp_path):
    merges, vocab = _trained(docs)
    reg = ModelRegistry(str(tmp_path))
    reg.save_tokenizer(merges, vocab, "web-bpe")
    # tamper: rewrite the merges artifact with a row dropped
    path = os.path.join(str(tmp_path), "web-bpe", "v00001", "merges.parquet")
    merges.limit(5).write.mode("overwrite").parquet(path)
    with pytest.raises(ArtifactError, match="fingerprint mismatch"):
        reg.load_tokenizer(spark, "web-bpe")


def test_registry_crash_leftover_is_invisible_and_skipped(
    spark, docs, tmp_path
):
    merges, vocab = _trained(docs)
    reg = ModelRegistry(str(tmp_path))
    reg.save_tokenizer(merges, vocab, "web-bpe")
    # simulate a crashed save: version dir exists, no manifest
    partial = os.path.join(str(tmp_path), "web-bpe", "v00002")
    os.makedirs(partial)
    assert [m["version"] for m in reg.versions("web-bpe")] == [1]
    _, _, mf = reg.load_tokenizer(spark, "web-bpe")
    assert mf["version"] == 1
    # the next save must not write into the partial directory
    m3 = reg.save_tokenizer(merges, vocab, "web-bpe")
    assert m3["version"] == 3
    assert json.load(
        open(
            os.path.join(
                str(tmp_path), "web-bpe", "v00003", "manifest.json"
            )
        )
    )["version"] == 3
