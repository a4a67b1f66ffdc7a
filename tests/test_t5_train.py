"""Torch-free pins for the T5 training loop core (ml/t5_train.py —
SURVEY M14, reference model.py:137-200).

Everything the Lightning Trainer decides — batch limits, gradient-
accumulation boundaries, step-interval logging, per-epoch validation,
monitored checkpointing, the metrics.csv contract — is executed here
against a numpy fake module; only the T5 tensor leaf
(make_torch_module) needs torch, and its gate is pinned separately in
test_text_generation.py."""

from __future__ import annotations

import csv
import os

import pytest

from bigdatamlteamrepo_spark.ml import t5_train as tt
from bigdatamlteamrepo_spark.ml.text_generation import TRAIN_CONFIG


# ---------------------------------------------------------------------------
# config
# ---------------------------------------------------------------------------


def test_config_matches_reference_hyperparameters():
    """TRAIN_CONFIG (the wire dict) round-trips into TrainConfig with
    the model.py:164-188 values intact."""
    cfg = tt.TrainConfig.from_dict(TRAIN_CONFIG)
    assert cfg.model == "t5-small"
    assert cfg.lr == 1e-4
    assert cfg.max_epochs == 15  # legacy 'epochs' key accepted
    assert cfg.batch_size == 8
    assert cfg.gradient_clip_val == 1.0
    assert cfg.accumulate_grad_batches == 2
    assert cfg.limit_train_batches == 0.5
    assert cfg.limit_val_batches == 0.2
    assert cfg.monitor == "val_loss"
    assert cfg.mode == "min"
    assert cfg.save_top_k == 1


@pytest.mark.parametrize(
    "kwargs",
    [
        {"max_epochs": 0},
        {"batch_size": 0},
        {"accumulate_grad_batches": 0},
        {"mode": "avg"},
        {"limit_train_batches": 1.5},
    ],
)
def test_config_rejects_bad_values(kwargs):
    with pytest.raises(ValueError):
        tt.TrainConfig(**kwargs)


# ---------------------------------------------------------------------------
# pure pieces
# ---------------------------------------------------------------------------


def test_limit_batches_lightning_semantics():
    assert tt.limit_batches(100, 0.5) == 50
    assert tt.limit_batches(100, 0.2) == 20
    assert tt.limit_batches(3, 0.2) == 1  # nonzero fraction → at least 1
    assert tt.limit_batches(100, 0.0) == 0
    assert tt.limit_batches(0, 0.5) == 0
    assert tt.limit_batches(100, 7) == 7  # int = absolute cap
    assert tt.limit_batches(5, 100) == 5
    with pytest.raises(TypeError):
        tt.limit_batches(10, True)


def test_checkpoint_filename_format():
    assert tt.checkpoint_filename(3, 1.2345) == "simple-t5-03-1.23.ckpt"
    assert tt.checkpoint_filename(12, 0.5) == "simple-t5-12-0.50.ckpt"


def test_shuffled_batches_deterministic_and_complete():
    a = tt.shuffled_batches(23, 8, seed=42)
    b = tt.shuffled_batches(23, 8, seed=42)
    assert a == b
    assert [len(x) for x in a] == [8, 8, 7]
    assert sorted(i for batch in a for i in batch) == list(range(23))
    assert tt.shuffled_batches(23, 8, seed=43) != a
    assert tt.shuffled_batches(10, 4, seed=0, shuffle=False) == [
        [0, 1, 2, 3], [4, 5, 6, 7], [8, 9]
    ]


def test_collate_shape_and_missing_key():
    rows = [
        {"input_ids": [1, 2], "attention_mask": [1, 1], "labels": [3]},
        {"input_ids": [4, 0], "attention_mask": [1, 0], "labels": [5]},
    ]
    got = tt.collate(rows)
    assert got == {
        "input_ids": [[1, 2], [4, 0]],
        "attention_mask": [[1, 1], [1, 0]],
        "labels": [[3], [5]],
    }
    with pytest.raises(KeyError):
        tt.collate([{"input_ids": [1]}])


def test_checkpoint_monitor_min_mode_and_top1():
    m = tt.CheckpointMonitor("min", save_top_k=1)
    f1, d1 = m.update(0, 2.0)
    assert f1 == "simple-t5-00-2.00.ckpt" and d1 is None
    f2, d2 = m.update(1, 2.5)  # worse → no save
    assert f2 is None and d2 is None
    f3, d3 = m.update(2, 1.5)  # better → save, delete previous best
    assert f3 == "simple-t5-02-1.50.ckpt" and d3 == f1
    assert m.update(3, float("nan")) == (None, None)
    assert m.best == 1.5


def test_checkpoint_monitor_max_mode():
    m = tt.CheckpointMonitor("max")
    assert m.update(0, 0.5)[0] is not None
    assert m.update(1, 0.4)[0] is None
    assert m.update(2, 0.9)[0] is not None


# ---------------------------------------------------------------------------
# CSVLogger contract (consumed by ml/metrics_log.py)
# ---------------------------------------------------------------------------


def test_metrics_csv_lightning_shape(tmp_path):
    lg = tt.MetricsCsvLogger(str(tmp_path), name="recipe_model")
    assert lg.log_dir.endswith(os.path.join("recipe_model", "version_0"))
    lg.log_metrics({"train_loss": 3.0}, step=10, epoch=0)
    lg.log_metrics({"val_loss": 2.5}, step=12, epoch=0)
    lg.log_metrics({"train_loss": 2.0}, step=20, epoch=1)
    path = lg.save()
    with open(path) as f:
        rows = list(csv.DictReader(f))
    # union header; blanks where a row didn't log the key (the
    # dropna(how='all') contract model.py:242 relies on)
    assert set(rows[0]) == {"train_loss", "val_loss", "epoch", "step"}
    assert rows[0]["train_loss"] == "3.0" and rows[0]["val_loss"] == ""
    assert rows[1]["val_loss"] == "2.5" and rows[1]["train_loss"] == ""
    # a second logger on the same root gets version_1
    lg2 = tt.MetricsCsvLogger(str(tmp_path), name="recipe_model")
    assert lg2.version == 1


def test_metrics_csv_feeds_metrics_log_module(spark, tmp_path):
    """The logger's file is directly consumable by the M22 queries
    (ml/metrics_log.py) — the end-to-end metrics-log contract."""
    from bigdatamlteamrepo_spark.ml import metrics_log
    from bigdatamlteamrepo_spark.sources import readers

    lg = tt.MetricsCsvLogger(str(tmp_path))
    lg.log_metrics({"train_loss": 3.0}, step=10, epoch=0)
    lg.log_metrics({"val_loss": 2.5}, step=15, epoch=0)
    lg.log_metrics({"train_loss": 1.5}, step=30, epoch=1)
    lg.log_metrics({"val_loss": 1.8}, step=30, epoch=1)
    path = lg.save()
    # the logger's header order (train_loss,epoch,step,val_loss) differs
    # from the reader's schema order: columns must bind by name
    df = readers.read_metrics_log(spark, path)
    assert df.columns == ["step", "epoch", "train_loss", "val_loss"]
    rows = [tuple(r) for r in df.collect()]
    assert len(rows) == 4 and set(rows) == {
        (10, 0, 3.0, None),
        (15, 0, None, 2.5),
        (30, 1, 1.5, None),
        (30, 1, None, 1.8),
    }
    best = metrics_log.best_epoch(df).collect()
    assert len(best) == 1 and best[0].epoch == 1
    assert abs(best[0].mean_val_loss - 1.8) < 1e-9


# ---------------------------------------------------------------------------
# parquet → rows plumbing (no torch, no Spark inside the reader)
# ---------------------------------------------------------------------------


def test_read_token_parquet_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F  # noqa: F401

    df = spark.createDataFrame(
        [([1, 2, 0], [1, 1, 0], [5, 1]), ([3, 4, 6], [1, 1, 1], [7, 1])],
        "input_ids array<int>, attention_mask array<int>, labels array<int>",
    )
    p = str(tmp_path / "tok.parquet")
    df.write.parquet(p)
    rows = tt.read_token_parquet(p)
    assert sorted(r["input_ids"] for r in rows) == [[1, 2, 0], [3, 4, 6]]
    assert all(set(r) == {"input_ids", "attention_mask", "labels"} for r in rows)


# ---------------------------------------------------------------------------
# the trainer loop, end to end, against a numpy fake module
# ---------------------------------------------------------------------------


class _QuadraticModule:
    """Fake module implementing the TrainerLoop contract: scalar
    parameter w minimizing mean((w - target)^2) over batch values, with
    manual gradient accumulation mirroring what torch's .backward()
    accumulation does.  Records every call so the schedule itself can
    be asserted."""

    def __init__(self, w=10.0, lr=0.5, accumulate=2):
        self.w, self.lr, self.accumulate = w, lr, accumulate
        self.grad = 0.0
        self.calls = []  # ("train"|"val"|"step"|"save", payload)
        self.clip_vals = []

    def training_step(self, batch):
        xs = batch["x"]
        loss = sum((self.w - x) ** 2 for x in xs) / len(xs)
        g = sum(2 * (self.w - x) for x in xs) / len(xs)
        self.grad += g / self.accumulate  # Lightning's scaled backward
        self.calls.append(("train", len(xs)))
        return loss

    def validation_step(self, batch):
        xs = batch["x"]
        self.calls.append(("val", len(xs)))
        return sum((self.w - x) ** 2 for x in xs) / len(xs)

    def optimizer_step(self, clip_val):
        self.clip_vals.append(clip_val)
        g = max(min(self.grad, clip_val), -clip_val)  # clip by value ~ norm in 1-D
        self.w -= self.lr * g
        self.grad = 0.0
        self.calls.append(("step", None))

    def save(self, dirpath, filename):
        path = os.path.join(dirpath, filename)
        with open(path, "w") as f:
            f.write(str(self.w))
        self.calls.append(("save", filename))


def _mk(tmp_path, **over):
    cfg = tt.TrainConfig(
        **{
            "max_epochs": over.pop("max_epochs", 3),
            "batch_size": 2,
            "accumulate_grad_batches": over.pop("accumulate_grad_batches", 2),
            "limit_train_batches": over.pop("limit_train_batches", 1.0),
            "limit_val_batches": over.pop("limit_val_batches", 1.0),
            "log_every_n_steps": over.pop("log_every_n_steps", 2),
            **over,
        }
    )
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt, exist_ok=True)
    loop = tt.TrainerLoop(cfg, tt.MetricsCsvLogger(str(tmp_path / "logs")), ckpt)
    return cfg, loop, ckpt


def test_loop_converges_and_checkpoints(tmp_path):
    cfg, loop, ckpt = _mk(tmp_path, max_epochs=12)
    mod = _QuadraticModule(w=10.0, lr=0.4)
    target = [{"x": [3.0, 3.0]}] * 4  # 4 batches/epoch → 2 opt steps
    summary = loop.fit(mod, lambda e: target, [{"x": [3.0, 3.0]}])
    # optimization actually happened and approached the target (the
    # 1.0 grad clip caps progress at lr·clip = 0.4/step early on)
    assert abs(mod.w - 3.0) < 0.5
    # val loss improves monotonically here → checkpoint every epoch,
    # save_top_k=1 keeps exactly the newest file
    files = os.listdir(ckpt)
    assert files == [summary["best_checkpoint"]]
    assert summary["best_val_loss"] == pytest.approx((mod.w - 3.0) ** 2, rel=1e-6)
    assert summary["global_steps"] == 12 * 2
    assert os.path.exists(summary["metrics_csv"])


def test_loop_accumulation_boundaries(tmp_path):
    """5 train batches, accumulate=2 → optimizer steps after batches
    2, 4, and the short final window (5) — Lightning's epoch-end step."""
    cfg, loop, _ = _mk(tmp_path, max_epochs=1)
    mod = _QuadraticModule()
    loop.fit(mod, lambda e: [{"x": [0.0]}] * 5, [])
    kinds = [k for k, _ in mod.calls]
    assert kinds == ["train", "train", "step", "train", "train", "step", "train", "step"]
    assert loop.global_step == 3
    assert mod.clip_vals == [1.0, 1.0, 1.0]  # gradient_clip_val reaches the module


def test_loop_respects_batch_limits(tmp_path):
    """limit_train_batches=0.5 over 8 batches → 4 consumed;
    limit_val_batches=0.2 over 10 → 2 consumed (model.py:186-187)."""
    cfg, loop, _ = _mk(
        tmp_path, max_epochs=1, limit_train_batches=0.5, limit_val_batches=0.2
    )
    mod = _QuadraticModule()
    loop.fit(mod, lambda e: [{"x": [1.0]}] * 8, [{"x": [1.0]}] * 10)
    assert sum(1 for k, _ in mod.calls if k == "train") == 4
    assert sum(1 for k, _ in mod.calls if k == "val") == 2


def test_loop_checkpoint_only_on_improvement(tmp_path):
    """A module whose val loss worsens after epoch 0 saves exactly once."""

    class _Worsening(_QuadraticModule):
        def training_step(self, batch):
            self.calls.append(("train", None))
            return 0.0

        def optimizer_step(self, clip_val):
            self.calls.append(("step", None))

        def validation_step(self, batch):
            self.calls.append(("val", None))
            return self._cur

    mod = _Worsening()
    cfg, loop, ckpt = _mk(tmp_path, max_epochs=3)

    # feed one val loss per epoch via a stateful batch provider
    losses = [1.0, 2.0, 3.0]

    def train_batches(epoch):
        mod._cur = losses[epoch]
        return [{"x": [0.0]}]

    summary = loop.fit(mod, train_batches, [{"x": [0.0]}])
    saves = [p for k, p in mod.calls if k == "save"]
    assert saves == ["simple-t5-00-1.00.ckpt"]
    assert summary["best_val_loss"] == 1.0
    assert os.listdir(ckpt) == ["simple-t5-00-1.00.ckpt"]


def test_loop_metrics_csv_contract(tmp_path):
    """train_loss logged every log_every_n_steps OPTIMIZER steps,
    val_loss once per epoch; the file parses and feeds best_epoch."""
    cfg, loop, _ = _mk(tmp_path, max_epochs=2, log_every_n_steps=2)
    mod = _QuadraticModule(w=5.0, lr=0.3)
    summary = loop.fit(mod, lambda e: [{"x": [1.0, 1.0]}] * 8, [{"x": [1.0]}] * 2)
    with open(summary["metrics_csv"]) as f:
        rows = list(csv.DictReader(f))
    train_rows = [r for r in rows if r["train_loss"] != ""]
    val_rows = [r for r in rows if r["val_loss"] != ""]
    # 8 batches/epoch, accumulate 2 → 4 opt steps/epoch → logs at
    # global steps 2,4 (epoch 0) and 6,8 (epoch 1)
    assert [int(r["step"]) for r in train_rows] == [2, 4, 6, 8]
    assert len(val_rows) == 2 and [int(r["epoch"]) for r in val_rows] == [0, 1]
    # val loss strictly decreasing (the optimizer is really moving w)
    vl = [float(r["val_loss"]) for r in val_rows]
    assert vl[1] < vl[0]


def test_loop_reshuffles_per_epoch(tmp_path):
    """train_batches(epoch) is called once per epoch with the epoch
    index — the per-epoch reshuffle hook train_fn uses."""
    cfg, loop, _ = _mk(tmp_path, max_epochs=3)
    seen = []

    def train_batches(epoch):
        seen.append(epoch)
        return [{"x": [0.0]}]

    loop.fit(_QuadraticModule(), train_batches, [])
    assert seen == [0, 1, 2]


def test_train_fn_gate_is_the_torch_import(tmp_path, monkeypatch):
    """train_fn reaches make_torch_module and fails there on the torch
    import — no other NotImplementedError/raise remains on the path."""
    with pytest.raises(ImportError):
        tt.make_torch_module(tt.TrainConfig())
    # and the source truly contains no 'not bundled' escape hatch
    import inspect

    src = inspect.getsource(tt)
    assert "NotImplementedError" not in src
    assert "not bundled" not in src


def test_train_fn_end_to_end_with_fake_module(spark, tmp_path, monkeypatch):
    """train_fn's full body — parquet read, per-epoch reshuffled
    collation, loop, checkpoints, metrics.csv, final save — executed
    torch-free by swapping only the model leaf (make_torch_module)."""
    import numpy as np

    rows = []
    rng = np.random.RandomState(0)
    for i in range(20):
        ids = [int(x) for x in rng.randint(1, 50, size=4)]
        rows.append((ids, [1] * 4, [ids[0]]))
    df = spark.createDataFrame(
        rows, "input_ids array<int>, attention_mask array<int>, labels array<int>"
    )
    train_p = str(tmp_path / "train.parquet")
    val_p = str(tmp_path / "val.parquet")
    df.write.parquet(train_p)
    df.limit(8).write.parquet(val_p)

    class _FakeLeaf:
        """Counts labels[0] mean — enough to drive the loop and emit a
        deterministic val loss."""

        def __init__(self):
            self.steps = 0

        def training_step(self, batch):
            assert set(batch) == {"input_ids", "attention_mask", "labels"}
            assert all(len(x) == 4 for x in batch["input_ids"])
            return float(sum(x[0] for x in batch["labels"]))

        def validation_step(self, batch):
            return 1.0

        def optimizer_step(self, clip_val):
            assert clip_val == 1.0
            self.steps += 1

        def save(self, dirpath, filename):
            os.makedirs(os.path.join(dirpath, str(filename)), exist_ok=True)

    monkeypatch.setattr(tt, "make_torch_module", lambda cfg: _FakeLeaf())
    out = str(tmp_path / "out")
    summary = tt.train_fn(
        train_p,
        val_p,
        {**{"max_epochs": 2, "batch_size": 8, "log_every_n_steps": 1}},
        out,
    )
    assert summary["best_val_loss"] == 1.0
    assert summary["best_checkpoint"].startswith("simple-t5-00")
    assert os.path.isdir(os.path.join(out, "checkpoints", summary["best_checkpoint"]))
    assert os.path.isdir(os.path.join(out, "saved_model"))
    with open(summary["metrics_csv"]) as f:
        body = f.read()
    assert "val_loss" in body and "train_loss" in body
