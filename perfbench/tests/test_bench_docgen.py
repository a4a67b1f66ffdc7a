import hashlib
import os

import numpy as np

import docgen

STATS = {
    "words": np.array([f"w{i}" for i in range(50)]),
    "wprobs": np.arange(50, 0, -1, dtype=float) / sum(range(1, 51)),
    "wcs": np.array([30, 60, 90]),
    "wcp": np.array([0.5, 0.3, 0.2]),
    "langs": ["de", "en"],
    "lprobs": np.array([0.3, 0.7]),
    "dup_rate": 0.05,
    "dup_window_rate": 0.1,
}


def _files_digest(root: str) -> str:
    h = hashlib.md5()
    for dirpath, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            with open(os.path.join(dirpath, name), "rb") as f:
                h.update(name.encode() + f.read())
    return h.hexdigest()


def _write(tmp_path, sub, seed):
    d = str(tmp_path / sub)
    docgen.write_documents(docgen.generate_documents(STATS, 400, seed), d, 8)
    return d


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _write(tmp_path, "a", 7)
    b = _write(tmp_path, "b", 7)
    c = _write(tmp_path, "c", 8)
    assert len(os.listdir(os.path.join(a, "documents.parquet"))) == 8
    assert _files_digest(a) == _files_digest(b)
    assert _files_digest(a) != _files_digest(c)


def test_phrase_draw_matches_generator_choice():
    cdf = STATS["wprobs"].cumsum()
    cdf /= cdf[-1]
    for pid in range(20):
        seed = docgen._phrase_seed(7, pid)
        slow = np.random.default_rng(seed).choice(
            STATS["words"], size=docgen.PHRASE_LEN, p=STATS["wprobs"]
        )
        u = np.random.default_rng(seed).random(docgen.PHRASE_LEN)
        assert list(STATS["words"][cdf.searchsorted(u, side="right")]) == list(slow)
