"""Golden bytes for the six shard exporters (tfrecord, webdataset,
arrow-ipc, npy, WET, jsonl.zst): a fixed 23-row input at 5 samples per
shard must give exactly the pinned files (sha256 of every file) and the
pinned manifest rows, whatever the shuffle partition count.  A second
export into the same directory is refused and leaves the files as they
were.

The hashes were computed under the session's default partitions and are
checked here under ``set_parallelism(7)``.  The Arrow shards embed the
pandas and pyarrow versions in their schema metadata, so their hashes
are tied to those versions (pandas 2.2, pyarrow 16.1).
"""

from __future__ import annotations

import hashlib
import os

import pytest

from my_flink_1_10_2_spark.environment import ExecutionEnvironment
from my_flink_1_10_2_spark.sources.arrow_ipc import write_arrow_shards
from my_flink_1_10_2_spark.sources.jsonl_zst import write_jsonl_zst_shards
from my_flink_1_10_2_spark.sources.npy_shards import write_npy_shards
from my_flink_1_10_2_spark.sources.tfrecord import write_tfrecords
from my_flink_1_10_2_spark.sources.warc import write_wet_shards
from my_flink_1_10_2_spark.sources.webdataset import write_webdataset

# a permutation of 100..122, so every writer has to sort its shard
KEYS = [(i * 7) % 23 + 100 for i in range(23)]


def _docs(spark):
    rows = [
        (k, f"doc {k} " + "é" * (k % 3), k % 4, k / 8, bytes([k % 256]) * (k % 5))
        for k in KEYS
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, n long, score double, blob binary"
    )


def _vectors(spark):
    rows = [(k, [k + j / 4 for j in range(4)]) for k in KEYS]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


WRITERS = {
    "tfrecord": lambda spark, out: write_tfrecords(
        _docs(spark), out, feature_cols=["text", "n", "score"], samples_per_shard=5
    ),
    "webdataset": lambda spark, out: write_webdataset(
        _docs(spark), out, columns={"text": "txt", "blob": "bin"}, samples_per_shard=5
    ),
    "arrow_ipc": lambda spark, out: write_arrow_shards(
        _docs(spark).select("doc_id", "text", "n", "score"), out, samples_per_shard=5
    ),
    "npy": lambda spark, out: write_npy_shards(_vectors(spark), out, samples_per_shard=5),
    "wet": lambda spark, out: write_wet_shards(_docs(spark), out, samples_per_shard=5),
    "jsonl_zst": lambda spark, out: write_jsonl_zst_shards(
        _docs(spark).select("doc_id", "text", "n", "score"), out, samples_per_shard=5
    ),
}

GOLDEN = {'arrow_ipc': {'files': {'part-00000.arrow': 'c0f23e64f169f4d177df3a265f82741a5acd1411abbef43d4c6e0c3a2e854f65',
                         'part-00001.arrow': '1b5b28faf8a5559e6a6dc4ad3b058519c5979c8812d82aee99873f781a96cbee',
                         'part-00002.arrow': '3979ffad98a0c20f81d27305c5acee158bd944985083028969e116d3d2ed69c4',
                         'part-00003.arrow': '44d6b7d723aab17f8de07021f608b597ae53acc10af05ffd33d3faf4803b4a95',
                         'part-00004.arrow': 'd2038d80dae424819524fa0822e6f3988abf404cc688a245af3301ae8a5f5648'},
               'manifest': [(0, 'part-00000.arrow', 5, 100, 104, 2370, 1),
                            (1, 'part-00001.arrow', 5, 105, 109, 2362, 1),
                            (2, 'part-00002.arrow', 5, 110, 114, 2370, 1),
                            (3, 'part-00003.arrow', 5, 115, 119, 2370, 1),
                            (4, 'part-00004.arrow', 3, 120, 122, 2290, 1)]},
 'jsonl_zst': {'files': {'part-00000.jsonl.zst': 'c7057b551fa5570ec23c92fb94b7373c59174489f77bbfb0dafc125cb8ada8e9',
                         'part-00001.jsonl.zst': '5696d5bd6e1e0f717e5c804f2a3255d66473a73abdfe4992027b9fb9fa41b801',
                         'part-00002.jsonl.zst': '0e12fed7c8ffa7fcf6000c3f2b5960d2a608dfc1e48d55c3622d5eb9b7b69b7d',
                         'part-00003.jsonl.zst': '47d53cd3d3f991347c7ff0612e7d42627a8f3b44780ffbf78f9074e5b14faf6f',
                         'part-00004.jsonl.zst': '5fdfed542ff67ba5ffed272b21682104ffa38a8db430650b70f7e7f0acc00966'},
               'manifest': [(0, 'part-00000.jsonl.zst', 5, 100, 104, 277, 128),
                            (1, 'part-00001.jsonl.zst', 5, 105, 109, 275, 125),
                            (2, 'part-00002.jsonl.zst', 5, 110, 114, 276, 127),
                            (3, 'part-00003.jsonl.zst', 5, 115, 119, 279, 128),
                            (4, 'part-00004.jsonl.zst', 3, 120, 122, 165, 97)]},
 'npy': {'files': {'part-00000.emb.npy': '8f304936a6cac62a23f958585cc29b5c97eaa2225b582d45fd221cfc0a6d9a7e',
                   'part-00000.ids.npy': 'dbb6d6b4320012d63d53e9bf658f5ae6f76c75525b3ab45c8362b2e5dc3901f0',
                   'part-00001.emb.npy': '0ed016110769fdd24fa97687eae8b88c9078847acb19d296cab30288e394b8ab',
                   'part-00001.ids.npy': '5b7689f21a6be7f97842880721f2981efabb33a13fb22d09e84961430f527e0e',
                   'part-00002.emb.npy': 'feebd7ac93f23f2e2b58082dee00ce68f3dc883bd83ef0754ec0955952cb94a9',
                   'part-00002.ids.npy': 'cec17620197e5809cb19092820046b65980c1efe7fc2b5c2447ad2219069b4fe',
                   'part-00003.emb.npy': '02c15d093e5cd8826ddd6a1630a8be7b11df4eb1b636753e165804687e00b1dd',
                   'part-00003.ids.npy': 'a177cf0f893a05153b2fb10afd4a67e45cd8350ede9dc0eb07f53fc0859eef56',
                   'part-00004.emb.npy': '0ffa3fbfcb307da0b0c736a52072b3ebf3515c4386a642d3ea83383f07c83c98',
                   'part-00004.ids.npy': '9f4ef838d09f0559e785b4ae9e6359b374490d7210dad5e26dbd42336d4aec20'},
         'manifest': [(0, 5, 4, 100, 104, 168, 208),
                      (1, 5, 4, 105, 109, 168, 208),
                      (2, 5, 4, 110, 114, 168, 208),
                      (3, 5, 4, 115, 119, 168, 208),
                      (4, 3, 4, 120, 122, 152, 176)]},
 'tfrecord': {'files': {'part-00000.tfrecord': '21ec705acd854dafbedc4d6f85e9bcc812a03434078a086172e2ed94fee2ed1c',
                        'part-00001.tfrecord': 'e55e50e65022b38e779a74a31f176443725050f3bec4164e53622d0d836683b2',
                        'part-00002.tfrecord': 'c817425f497b9d7bb885a10cbb0063234e2ed6d21b8df6c811d1cc9bcd5eb5ac',
                        'part-00003.tfrecord': '7e21f57eaa3eb86d7aa502229291cedae83ce835f988efe5aa616f41f94e85c7',
                        'part-00004.tfrecord': '4b2c39132461147324350e48ee85c72fd48ce5b1c3777aa95149151c2c0db232'},
              'manifest': [(0, 'part-00000.tfrecord', 5, 100, 104, 452),
                           (1, 'part-00001.tfrecord', 5, 105, 109, 448),
                           (2, 'part-00002.tfrecord', 5, 110, 114, 450),
                           (3, 'part-00003.tfrecord', 5, 115, 119, 452),
                           (4, 'part-00004.tfrecord', 3, 120, 122, 270)]},
 'webdataset': {'files': {'shard-000000.tar': '35d8383d4d6b03e83daa9743f6976cc831899d07eb1b031ce903cff4b3615699',
                          'shard-000001.tar': '65fb8e569d667b5b2050a4b9c0e765981988323580246db9c24f2a26c078e7b2',
                          'shard-000002.tar': 'af5d4893b75dbdf9ef5134352e391e78da12f5db5d923c9839c4a1215d715ac0',
                          'shard-000003.tar': '6cedf5bb5909bb63928c786989e4ed7e13cc9b04aaaf4746207bc7f39f2ea71c',
                          'shard-000004.tar': 'ce351ad2a81e563aff0d7af3be67b959d266184dda0dbc1a1cfb4880613be8c3'},
                'manifest': [(0, 'shard-000000.tar', 5, 100, 104, 20480),
                             (1, 'shard-000001.tar', 5, 105, 109, 20480),
                             (2, 'shard-000002.tar', 5, 110, 114, 20480),
                             (3, 'shard-000003.tar', 5, 115, 119, 20480),
                             (4, 'shard-000004.tar', 3, 120, 122, 10240)]},
 'wet': {'files': {'part-00000.warc.wet.gz': '40a250ef6ff39dac4ce7d900b8e702c981822e7e521212acc5e7cacb01a3501b',
                   'part-00001.warc.wet.gz': '702a963b3e2254b648d450fcf5fec773759b3af3eb3f5139523c975178bd0e3d',
                   'part-00002.warc.wet.gz': 'eb43fb52aebea78b5b0582c1c5a453ad34db3ef8f4ec59059d273900e37e4473',
                   'part-00003.warc.wet.gz': 'fe6f403bf5af74f0c634c014c598a39ba7d21e1ba9fd7757403f3701e3f588d7',
                   'part-00004.warc.wet.gz': '569fba7b391933dc10eb6371e9b4b6452dc65fa72d8beeea800cd84c4742f6f4'},
         'manifest': [(0, 'part-00000.warc.wet.gz', 5, 100, 104, 1010),
                      (1, 'part-00001.warc.wet.gz', 5, 105, 109, 1002),
                      (2, 'part-00002.warc.wet.gz', 5, 110, 114, 1006),
                      (3, 'part-00003.warc.wet.gz', 5, 115, 119, 1012),
                      (4, 'part-00004.warc.wet.gz', 3, 120, 122, 670)]}}


def _files(out):
    return {
        f: hashlib.sha256(open(os.path.join(out, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(out))
    }


def _manifest(rows):
    """Manifest rows as sorted tuples, with the path reduced to its file
    name (the directory is a per-run temporary)."""
    return sorted(
        tuple(os.path.basename(v) if k == "path" else v for k, v in r.asDict().items())
        for r in rows
    )


@pytest.mark.parametrize("fmt", sorted(WRITERS))
def test_golden_bytes_at_seven_partitions(spark, tmp_path, fmt):
    env = ExecutionEnvironment(spark)
    old = env.get_parallelism()
    out = str(tmp_path / fmt)
    try:
        env.set_parallelism(7)
        manifest = _manifest(WRITERS[fmt](spark, out).collect())
    finally:
        env.set_parallelism(old)
    assert manifest == GOLDEN[fmt]["manifest"]
    assert _files(out) == GOLDEN[fmt]["files"]
    with pytest.raises(FileExistsError):
        WRITERS[fmt](spark, out)
    assert _files(out) == GOLDEN[fmt]["files"]
