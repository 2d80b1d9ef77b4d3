"""Byte pins for the segment files (no Spark).

`builder._build_segment` writes `postings.parquet` and `norms.parquet` for
one fixed in-repo corpus under each build option that changes what the
inversion stores: the standard chain, `store_offsets`, `store_payloads`, a
descending index sort, and the english_stem, code and phonetic chains. A
0-doc, a 1-doc and a 4-doc segment are pinned too. Each file's sha256 must
equal the recorded digest, so any change to the FOR block format, the
posting column types or the per-block skip/impact data shows here.

Regenerate the digests only for a deliberate format change:
    python tests/test_segment_pins.py
"""

import hashlib
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lucene_solr_1_spark.corpus import make_corpus_pandas  # noqa: E402
from lucene_solr_1_spark.index import builder as B  # noqa: E402
from lucene_solr_1_spark.index import manifest as mf  # noqa: E402
from lucene_solr_1_spark.kernels.analyzer import ANALYZERS, STANDARD  # noqa: E402

_WORDS = (
    "the running runners ran easily customer customers window windows "
    "streaming stream merges merged merging photograph phonetic Robert "
    "Rupert Smith Smyth naïve café résumé data-driven getFooBar"
).split()


def pin_corpus(n: int = 700, payloads: bool = False):
    """`n` bench-generator files (edge cases at the head, Zipf terms, hot
    terms with multi-block postings); every tenth file's content is
    replaced by a seeded English sentence so the stemming and phonetic
    chains have words to reduce. With `payloads`, the first three spaces
    of each content become `|2.5 ` annotations."""
    pdf = make_corpus_pandas(n)
    rng = np.random.default_rng(20261019)
    words = np.asarray(_WORDS, dtype=object)
    for i in range(5, n, 10):
        pdf.at[i, "content"] = " ".join(rng.choice(words, size=int(rng.integers(3, 60))))
    if payloads:
        pdf["content"] = pdf["content"].str.replace(" ", "|2.5 ", n=3)
    return pdf


CASES = {
    "standard": (700, {}),
    "offsets": (700, {"store_offsets": True}),
    "payloads": (700, {"store_payloads": True}),
    "sorted_desc": (700, {"index_sort": ("n_chars", True)}),
    "english_stem": (700, {"cfg": "english_stem"}),
    "code": (700, {"cfg": "code"}),
    "phonetic": (700, {"cfg": "phonetic"}),
    "empty": (0, {}),
    "one_doc": (1, {}),
    "four_docs": (4, {}),
}


def segment_digests(index_dir: str, name: str) -> tuple[str, str]:
    """sha256 of (postings.parquet, norms.parquet) of case `name` built
    into `index_dir`."""
    n, options = CASES[name]
    options = dict(options)
    cfg = ANALYZERS[options.pop("cfg")] if "cfg" in options else STANDARD
    pdf = pin_corpus(n, payloads=bool(options.get("store_payloads")))
    row = B._build_segment([pdf], 0, index_dir=index_dir, cfg=cfg,
                           fail_partitions=None, **options)
    seg_dir = mf.segment_dir(index_dir, row["segment_id"])
    out = []
    for fname in ("postings.parquet", "norms.parquet"):
        with open(os.path.join(seg_dir, fname), "rb") as f:
            out.append(hashlib.sha256(f.read()).hexdigest())
    return tuple(out)


# sha256 of (postings.parquet, norms.parquet) per case
PINS = {
    "code": (
        "8969ef0880b12446dfd8621485bdaf8cff803030e7ecc88028a5412a34bd4c56",
        "e430ab24302196ebcdaaabc339ba1c7fb7b140ba35a7575e1d4362ca7c2f3f16",
    ),
    "empty": (
        "41ccd49fc00b915379fdf4376b88093f3c5e02f7f209feba335961926c1d03a0",
        "61f38af51f375a00d57c332419184ca96abac63f9ca37a76a4165ad9f1ab07b9",
    ),
    "english_stem": (
        "5cb55f520dc4f0ec78393dfb4773b2eb3b648152895a0aff3361e2343eca7b80",
        "7f36e50af83f26e2ec295ac679ee23bd7a2d346482124ad8d271d6b32bb5ec77",
    ),
    "four_docs": (
        "bdcd4995810083b468206fe0b506ade74382de5787982e2a98a187c058dc40e1",
        "16ba0ed7772f2f4a40dc5958e527ff2e444a869cdb1feaa6156137c5114e4fd2",
    ),
    "offsets": (
        "cca7546d42641fd23e61a4541c507ea60b33bae37eadd4591b72b86903cf3d9a",
        "67e0737fdd4a993186e76a7c34f14c3faed0d7a7143cf36983bdcb23f99019f1",
    ),
    "one_doc": (
        "92d873e588e18d76548a58e3df6f297f76d298019fca08bac650d74d0ef5668b",
        "f2f73f521e31c0cc991b2621de3a9f9242c1a202e05aad14e773d8389f98d6c5",
    ),
    "payloads": (
        "915244443c8e2f099bbf56a452e1f907d383dec13df90abd69a75dbafea806d4",
        "b9dcbc7e6f1d49ac9aa2add5dc89f5fdec24095cca30f7b91e399c44579a086d",
    ),
    "phonetic": (
        "253966a29ac9bc87992a93d126d187ec1c21bdaf51a190c8d52de223b0ad4594",
        "65482a3f1dc16cbcfefea142759cb970fc7a9f75e2f3cd86201bf6231854bd3b",
    ),
    "sorted_desc": (
        "5694c686ce6f6cd0ffdb71a2f1f930500b5bab19c9408019d4c18e1eacbc776b",
        "22c1acd2c9bcbd2a516fd31f13cec20eb754c66547c56c316a8a4653face2b79",
    ),
    "standard": (
        "cca7546d42641fd23e61a4541c507ea60b33bae37eadd4591b72b86903cf3d9a",
        "b5ac7b8c6967961906247cb661b5772013cd5e8767d592820ede111aa36faf5d",
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_segment_files_match_pins(tmp_path, name):
    assert segment_digests(str(tmp_path), name) == PINS[name]


if __name__ == "__main__":
    import tempfile

    print("PINS = {")
    for name in sorted(CASES):
        with tempfile.TemporaryDirectory() as d:
            postings, norms = segment_digests(d, name)
        print(f'    "{name}": (\n        "{postings}",\n        "{norms}",\n    ),')
    print("}")
