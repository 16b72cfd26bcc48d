"""Inference-engine wrappers, one cached session per Python worker.

Mirrors the reference's Engine pattern (onnxtr/models/engine.py:102-140):
a session is constructed once and reused across batches; in Spark the
equivalent is a module-level singleton inside each Python worker process
(``spark.python.worker.reuse=true`` keeps workers alive across tasks), with
model artifacts shipped via ``SparkContext.addFile``/``--files``.

Because this sandbox has no onnxruntime, the two "models" are
deterministic stubs with the **same tensor contracts** as the reference's
ONNX graphs:

- ``DetectionEngine.run``: B×H×W×3 uint8 pages → B×H×W float32 prob map
  in [0,1] (reference FAST/DBNet: sigmoid(logits), detection/models/
  fast.py:83 + tests/common/test_models_detection.py:92-95).
- ``RecognitionEngine.run``: B×32×128×3 uint8 crops → B×T×C float32
  logits, C = len(vocab)+1 with blank last (reference CRNN,
  models/recognition/models/crnn.py:132-146).

Threading note for a real deployment: set ORT ``intra_op_num_threads=1``
per session (reference exposes this via EngineConfig, engine.py:51-79) so
executor cores are not oversubscribed — this is what protects the ≥0.8
N→4N scaling-efficiency bar.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np

from onnxtr_spark import imaging
from onnxtr_spark.vocabs import DEFAULT_VOCAB

_SESSIONS: dict[tuple, object] = {}
INPUT_CONTRACTS = ("uint8_bhwc", "float_bchw", "float_bhwc")


@dataclass(frozen=True)
class EngineConfig:
    """The reference EngineConfig analog (models/engine.py:33-90) plus
    the model-registry parameter (factory/hub.py custom-model path):
    which model to load, where from, and how the session is configured.
    Hashable so stage configs stay picklable and the per-worker session
    cache can key on it.

    ``input_contract`` declares the tensor layout the session expects:
    ``uint8_bhwc`` (the folded stub fast path) or ``float_bchw`` /
    ``float_bhwc`` (a real CNN: P1-P4 preprocess runs ahead of the
    session — kernels/preprocess.py)."""

    arch: str = "stub_fast"
    # Real .onnx artifact: a local path (ship via --files/addFile +
    # SparkFiles.get), or an http(s)://, file:// URL resolved through
    # the per-host cache (utils/data.py, reference engine.py:102-112)
    # before the factory sees it.
    model_path: str | None = None
    model_sha256: str | None = None  # expected sha256 (prefix) of the artifact
    # Module imported (on the EXECUTOR, before session resolution) to
    # register custom archs — driver-side register_model calls don't
    # reach Spark Python workers; shipping a registering module via
    # spark-submit --py-files and naming it here does.
    factory_module: str | None = None
    providers: tuple[str, ...] = ("CPUExecutionProvider",)
    # 1, not ORT's default -1: executor cores must not be oversubscribed
    # (the single biggest threat to the N->4N scaling bar, SURVEY.md §4)
    intra_op_num_threads: int = 1
    input_contract: str = "uint8_bhwc"
    mean: tuple[float, float, float] = (0.5, 0.5, 0.5)
    std: tuple[float, float, float] = (1.0, 1.0, 1.0)
    # Quantization surface (reference: every model ctor takes
    # load_in_8_bit and swaps to default_cfgs' url_8_bit artifact,
    # e.g. recognition/models/crnn.py:152-162; fp16 artifacts come from
    # scripts/convert_to_float16.py). With stub engines these are
    # flag-plumbing only, but a real-ORT factory reads them off the cfg
    # it receives: load_in_8_bit selects model_path_8_bit when present,
    # precision names the artifact's tensor dtype ("float32"|"float16").
    load_in_8_bit: bool = False
    model_path_8_bit: str | None = None
    precision: str = "float32"

    def __post_init__(self) -> None:
        if self.input_contract not in INPUT_CONTRACTS:
            raise ValueError(
                f"unknown engine input_contract {self.input_contract!r} "
                f"(expected one of {INPUT_CONTRACTS})"
            )


# arch -> factory(cfg, **kwargs) -> session-like object. The registry is
# module-level per Python worker; custom archs registered on the driver
# must be registered by an importable module (pickled closures won't
# reach workers) — same constraint as the reference's hub loaders.
MODEL_REGISTRY: dict[str, Callable[..., object]] = {}


def register_model(arch: str, factory: Callable[..., object]) -> None:
    """Register a model factory under an architecture name (the
    models/factory/hub.py custom-model entry point analog)."""
    MODEL_REGISTRY[arch] = factory


def _resolve(kind: str, cfg: EngineConfig, **kwargs) -> object:
    # the full (hashable) cfg keys the session cache: configs differing
    # in quantization, providers, or threading must not share a session
    key = (kind, cfg, tuple(sorted(kwargs.items())))
    if key not in _SESSIONS:
        if cfg.arch not in MODEL_REGISTRY and cfg.factory_module:
            import importlib

            importlib.import_module(cfg.factory_module)
        if cfg.arch not in MODEL_REGISTRY:
            quant = ""
            if cfg.load_in_8_bit or cfg.precision != "float32":
                quant = (
                    f" Quantization flags set (load_in_8_bit={cfg.load_in_8_bit}, "
                    f"precision={cfg.precision!r}) apply when the registered factory "
                    "loads the artifact (reference crnn.py:152-162 url_8_bit swap / "
                    "scripts/convert_to_float16.py)."
                )
            raise NotImplementedError(
                f"arch {cfg.arch!r} is not registered; onnxruntime is absent in this "
                "container, so a real model_path needs a registered factory that wraps "
                "an InferenceSession (register_model)." + quant
            )
        if cfg.load_in_8_bit and cfg.model_path_8_bit:
            # the reference's url_8_bit swap (crnn.py:162): the factory
            # only ever sees the effective artifact path
            from dataclasses import replace

            cfg = replace(cfg, model_path=cfg.model_path_8_bit)
        if cfg.model_path and "://" in cfg.model_path:
            # URL artifact: fetch through the per-host cache with
            # checksum verification (reference models/engine.py:102-112
            # resolves url -> download_from_url -> InferenceSession);
            # the factory only ever sees a verified local path.
            from dataclasses import replace

            from onnxtr_spark.utils.data import download_from_url

            local = download_from_url(cfg.model_path, hash_prefix=cfg.model_sha256)
            cfg = replace(cfg, model_path=str(local))
        _SESSIONS[key] = MODEL_REGISTRY[cfg.arch](cfg, **kwargs)
    return _SESSIONS[key]

# Optional model-cost emulation for scaling studies: the stub models are
# orders of magnitude cheaper than real CNNs (the reference's fast_base
# runs ~100s of ms/page on one CPU core, README.md:363), which makes a
# single shared-memory box DRAM-bound long before 32 cores. Setting
# SPARK_GRAFT_MODEL_ITERS=<n> adds n deterministic cache-resident
# vector iterations (~3 µs each, 32 KB working set) per page, restoring
# a production-like FLOPs/byte ratio so the scaling measurement reflects
# orchestration, not the stub's pathological lightness. The work is a
# FIXED iteration count — identical at every parallelism level — never
# time-calibrated (calibration under load would self-distort). Zero
# (default) = off; results are unaffected either way.
MODEL_ITERS = int(os.environ.get("SPARK_GRAFT_MODEL_ITERS", "0"))


def _busy_iters(iters: int) -> None:
    if iters <= 0:
        return
    x = np.arange(8192, dtype=np.float32)
    a, b = np.float32(0.999), np.float32(0.001)
    for _ in range(iters):
        x = x * a + b


class DetectionEngine:
    """Stub detection model: page batch → probability maps."""

    def run(self, batch: np.ndarray) -> np.ndarray:
        if batch.ndim != 4 or batch.shape[-1] not in (1, 3):
            raise ValueError(f"expected B×H×W×C (C=1|3), got {batch.shape}")
        self.simulate_model_cost(batch.shape[0])
        return (255 - batch[..., 0].astype(np.float32)) / 255.0

    @staticmethod
    def simulate_model_cost(n_pages: int) -> None:
        """Emulated per-page CNN cost (see MODEL_ITERS above); no-op by
        default. Called explicitly by the fused stage because the
        affine-folding optimization there bypasses ``run``."""
        _busy_iters(MODEL_ITERS * n_pages)


class OrientationEngine:
    """Stub page-orientation classifier (reference I5: MobileNetV3
    4-class over [0, -90, 180, 90], models/classification/models/
    mobilenet.py:26 + predictor/base.py:37-61). Returns the number of
    CCW np.rot90 turns per page (0..3); rectify with rot90(img, -k)."""

    def run_one(self, img: np.ndarray) -> int:
        return imaging.detect_orientation(img)

    def run(self, crops: list[np.ndarray]) -> np.ndarray:
        """Batched classify — ONE engine invocation per Arrow chunk
        (a real MobileNet resizes every crop to its fixed input and
        runs one forward pass; reference predictor/base.py:49-57 loops
        ONNX batches the same way). The stub pads crops to common dims
        and vectorizes the only signal it reads — presence of the
        ORIENT_MARK pixel value — then runs the exact corner check on
        the rare flagged items (padding is WHITE, so it can never
        introduce a mark). Result is item-wise identical to run_one."""
        if not crops:
            return np.zeros(0, dtype=np.int64)
        b = len(crops)
        # Flat concatenated scan instead of a (b, hmax, wmax) padded
        # batch: one wide crop would make every crop pay the chunk-max
        # width in the pad, while the mark test only needs each crop's
        # own channel-0 bytes — ~6x less memory traffic, identical
        # flagged set (padding was WHITE and could never introduce a
        # mark) and identical per-item results.
        offs = np.empty(b + 1, dtype=np.int64)
        offs[0] = 0
        parts = []
        for i, c in enumerate(crops):
            v = c[:, :, 0]
            parts.append(v.ravel())
            offs[i + 1] = offs[i] + v.size
        flat = np.concatenate(parts)
        hits = np.flatnonzero(flat == imaging.ORIENT_MARK)
        out = np.zeros(b, dtype=np.int64)
        if len(hits):
            for i in np.unique(np.searchsorted(offs, hits, side="right") - 1):
                out[i] = imaging.detect_orientation(crops[i])
        return out


@dataclass(frozen=True)
class DecodeContract:
    """How a recognition model's logits decode to (word, conf) — the
    property that distinguishes the reference's two recognition
    families (each model class binds its own postprocessor):

    - CTC (CRNN, crnn.py:55-101): per-TIMESTEP logits, C = vocab+1
      (blank last), collapse repeats then drop blanks, conf = min of
      the per-step top prob.
    - attention (ViTSTR/PARSeq/SAR/MASTER): per-POSITION logits,
      C = vocab + n_special specials in embedding order (<eos>,
      <sos>, <pad>), word ends at <eos>; conf = mean over the word
      prefix (ViTSTR vitstr.py:95-109, PARSeq) or min over all
      positions (SAR sar.py:87-99, MASTER).

    Engines expose ``decode_contract``; the recognize stages dispatch
    the matching kernel (kernels/ctc.py) from it, so swapping
    ``reco_arch`` swaps the decoder with no stage change."""

    kind: str = "ctc"  # "ctc" | "attention"
    n_special: int = 1  # classes beyond the vocab (eos[/sos[/pad]])
    conf: str = "min"  # "mean" | "min"


CTC_CONTRACT = DecodeContract()
ATTENTION_CONTRACTS = {
    "vitstr": DecodeContract(kind="attention", n_special=2, conf="mean"),
    "parseq": DecodeContract(kind="attention", n_special=3, conf="mean"),
    "sar": DecodeContract(kind="attention", n_special=1, conf="min"),
    "master": DecodeContract(kind="attention", n_special=3, conf="min"),
}


class RecognitionEngine:
    """Stub recognition model: crop batch → per-timestep logits."""

    decode_contract = CTC_CONTRACT

    def __init__(self, vocab: str = DEFAULT_VOCAB):
        self.vocab = vocab

    def run(self, batch: np.ndarray) -> np.ndarray:
        if batch.ndim != 4 or batch.shape[-1] not in (1, 3):
            raise ValueError(f"expected B×H×W×C (C=1|3), got {batch.shape}")
        n_classes = len(self.vocab) + 1
        return imaging.batch_classes_to_logits(
            imaging.batch_columns_to_classes(batch, self.vocab), n_classes
        )


class AttentionRecognitionEngine:
    """Stub attention-family recognition model (I4 + C2): crop batch →
    (B, L, C) POSITIONAL logits, C = len(vocab) + n_special with <eos>
    at index len(vocab) — the output contract of the reference's
    ViTSTR/PARSeq/SAR/MASTER ONNX graphs (e.g. vitstr.py:66-78 run →
    postprocessor over positional argmax).

    The stub reads the same glyph encoding as the CTC stub (darkest
    pixel per column), collapses it to the character sequence, and
    emits one confident class per POSITION: char classes 0..len-1,
    then <eos> at every remaining position (a real model emits eos
    then arbitrary logits; confident eos keeps SAR's min-over-all-
    positions reduction deterministic). L is dynamic per batch
    (longest word + 1) — a real ONNX session has a fixed max_length
    axis instead; the decode kernel is length-agnostic."""

    def __init__(self, cfg: EngineConfig, vocab: str = DEFAULT_VOCAB, family: str = "vitstr"):
        self.cfg = cfg
        self.vocab = vocab
        self.decode_contract = ATTENTION_CONTRACTS[family]

    def run(self, batch: np.ndarray) -> np.ndarray:
        if batch.ndim != 4 or batch.shape[-1] not in (1, 3):
            raise ValueError(f"expected B×H×W×C (C=1|3), got {batch.shape}")
        blank = len(self.vocab)
        all_cls = imaging.batch_columns_to_classes(batch, self.vocab)
        seqs = []
        for cls in all_cls:
            if cls.size:
                keep = np.ones(cls.size, dtype=bool)
                keep[1:] = cls[1:] != cls[:-1]
                seq = cls[keep]
                seq = seq[seq != blank]
            else:
                seq = cls
            seqs.append(seq)
        n_classes = len(self.vocab) + self.decode_contract.n_special
        eos = len(self.vocab)
        length = max((len(s) for s in seqs), default=0) + 1
        logits = np.zeros((batch.shape[0], length, n_classes), dtype=np.float32)
        peak = np.float32(12.0)
        for i, seq in enumerate(seqs):
            logits[i, np.arange(len(seq)), seq] = peak
            logits[i, len(seq):, eos] = peak
        return logits


ARTEFACT_LABELS = ["bar_code", "qr_code", "logo", "photo"]  # reference contrib/artefacts.py:20
ART_INPUT = 1024  # reference yolov8_artefact input_shape (3, 1024, 1024)


class ArtefactEngine:
    """Stub artefact detector with the YOLOv8 output contract
    (reference contrib/artefacts.py:17-104): per image, rows of
    [cx, cy, w, h, score_0..score_3] in input-shape (1024²) coordinate
    space. The stub finds each artefact class's pixel-value block
    (imaging.ART_BASE + cls) and emits:

    - the true box, confidence 0.55 + 0.1*cls (one-hot-ish scores);
    - a duplicate shifted +2/+2 at confidence-0.1 — suppressed by NMS;
    - one low-confidence (0.3) background row — dropped by the 0.5
      conf filter.

    So the real postprocess chain (conf filter → argmax → rescale →
    NMS) is exercised, not just passed through.
    """

    def run_one(self, img: np.ndarray) -> np.ndarray:
        h, w = img.shape[:2]
        ch = img[:, :, 0]
        rows: list[list[float]] = []
        # one full-page scan for all artefact classes (the class values
        # are a contiguous band), then per-class min/max over the
        # gathered coordinates — identical boxes, 4× less page traffic
        ays, axs = np.nonzero((ch >= imaging.ART_BASE) & (ch < imaging.ART_BASE + imaging.N_ART_CLASSES))
        avals = ch[ays, axs]
        for cls in range(imaging.N_ART_CLASSES):
            m = avals == imaging.ART_BASE + cls
            if not m.any():
                continue
            xs, ys = axs[m], ays[m]
            x0, x1 = int(xs.min()), int(xs.max()) + 1
            y0, y1 = int(ys.min()), int(ys.max()) + 1
            cx = (x0 + (x1 - x0) / 2.0) * ART_INPUT / w
            cy = (y0 + (y1 - y0) / 2.0) * ART_INPUT / h
            bw = (x1 - x0) * ART_INPUT / w
            bh = (y1 - y0) * ART_INPUT / h
            conf = 0.55 + 0.1 * cls
            scores = [0.01] * imaging.N_ART_CLASSES
            scores[cls] = conf
            rows.append([cx, cy, bw, bh, *scores])
            dup = [0.01] * imaging.N_ART_CLASSES
            dup[cls] = conf - 0.1
            rows.append([cx + 2.0, cy + 2.0, bw, bh, *dup])
        rows.append([512.0, 512.0, 40.0, 40.0, 0.3, 0.01, 0.01, 0.01])
        return np.asarray(rows, dtype=np.float64)


def get_artefact_engine(cfg: EngineConfig | None = None) -> ArtefactEngine:
    """Per-worker cached artefact session."""
    return _resolve("artefact", cfg or EngineConfig(arch="stub_yolo_artefact"))  # type: ignore[return-value]


class FloatDetectionEngine:
    """Detection stub with a REAL CNN's input contract: float32,
    normalized, optionally channels-first (P1-P4 must run ahead of it —
    kernels/preprocess.py). Functionally identical to DetectionEngine:
    it denormalizes back to pixel space, so the contract test can assert
    the float path reproduces the uint8 fast path bit-for-bit."""

    def __init__(self, cfg: EngineConfig):
        self.cfg = cfg

    def run(self, batch: np.ndarray) -> np.ndarray:
        if batch.dtype != np.float32:
            raise TypeError(f"float-contract model got {batch.dtype}")
        DetectionEngine.simulate_model_cost(batch.shape[0])
        # only channel 0 reaches the output map: denormalize that plane
        # alone (identical elementwise ops — (x*std0 + mean0)*255 — at a
        # third of the traffic of denormalizing all three and slicing)
        ch0 = batch[:, 0] if self.cfg.input_contract == "float_bchw" else batch[..., 0]
        mean0 = np.float32(self.cfg.mean[0])
        std0 = np.float32(self.cfg.std[0])
        # one buffer, identical op sequence ((x*std0 + mean0)*255 then
        # (255 - px)/255) — the four out-of-place forms allocated a full
        # map each in the per-page loop
        t = ch0 * std0
        t += mean0
        t *= np.float32(255.0)
        np.subtract(np.float32(255.0), t, out=t)
        t /= np.float32(255.0)
        return t


class DbFloatDetectionEngine(FloatDetectionEngine):
    """DBNet-shaped float-contract detection stub: near-BINARY
    probability maps (a trained DBNet's differentiable binarization
    saturates probs toward 0/1 — that is why its default bin_thresh is
    0.3, differentiable_binarization.py:59, vs FAST's 0.1). Any
    non-background pixel maps to 0.875, background to 0.0, so the 0.3
    binarization keeps exactly the glyph components while the parent's
    affine map would lose glyph classes whose pixel intensity sits
    above the folded 0.3 threshold — i.e. this stub genuinely
    exercises the per-arch threshold table end-to-end."""

    def run(self, batch: np.ndarray) -> np.ndarray:
        raw = super().run(batch)  # affine (255-px)/255 map
        return np.where(raw >= np.float32(0.02), np.float32(0.875), np.float32(0.0))


class FloatRecognitionEngine:
    """Recognition stub with a real CRNN's input contract: float32,
    normalized, optionally channels-first. Denormalizes back to the
    exact source pixels (the float32 roundtrip of each of the 256 uint8
    values is exact to well under 0.5, so rint recovers them
    bit-for-bit) and classifies like RecognitionEngine — the fused-float
    contract test asserts identical spans."""

    def __init__(self, cfg: EngineConfig, vocab: str = DEFAULT_VOCAB):
        self.cfg = cfg
        self.vocab = vocab

    def run(self, batch: np.ndarray) -> np.ndarray:
        if batch.dtype != np.float32:
            raise TypeError(f"float-contract model got {batch.dtype}")
        if self.cfg.input_contract == "float_bchw":
            batch = np.moveaxis(batch, 1, -1)
        mean = np.asarray(self.cfg.mean, dtype=np.float32)
        std = np.asarray(self.cfg.std, dtype=np.float32)
        # one buffer, identical op sequence (see FloatDetectionEngine)
        t = batch * std
        t += mean
        t *= 255.0
        np.rint(t, out=t)
        np.clip(t, 0, 255, out=t)
        px = t.astype(np.uint8)
        n_classes = len(self.vocab) + 1
        return imaging.batch_classes_to_logits(
            imaging.batch_columns_to_classes(px, self.vocab), n_classes
        )


register_model("stub_fast", lambda cfg: DetectionEngine())
register_model("stub_fast_float", FloatDetectionEngine)
register_model("stub_db_float", DbFloatDetectionEngine)
register_model("stub_crnn", lambda cfg, vocab=DEFAULT_VOCAB: RecognitionEngine(vocab))
# VIPTR decodes with the same CTC contract as CRNN (blank = len(vocab),
# min-of-top-prob conf; reference viptr.py:33-88) — same engine family
register_model("stub_viptr", lambda cfg, vocab=DEFAULT_VOCAB: RecognitionEngine(vocab))
register_model("stub_crnn_float", lambda cfg, vocab=DEFAULT_VOCAB: FloatRecognitionEngine(cfg, vocab))
register_model("stub_mobilenet_orient", lambda cfg: OrientationEngine())
for _family in ("vitstr", "parseq", "sar", "master"):
    register_model(
        f"stub_{_family}",
        lambda cfg, vocab=DEFAULT_VOCAB, _f=_family: AttentionRecognitionEngine(cfg, vocab, _f),
    )
register_model("stub_yolo_artefact", lambda cfg: ArtefactEngine())

DEFAULT_ENGINE = EngineConfig()


def get_detection_engine(cfg: EngineConfig | None = None) -> DetectionEngine:
    """Per-worker cached detection session (reference engine.py:102-112),
    resolved through the model registry (config-only model swap)."""
    return _resolve("det", cfg or DEFAULT_ENGINE)  # type: ignore[return-value]


def get_orientation_engine(cfg: EngineConfig | None = None) -> OrientationEngine:
    """Per-worker cached orientation session."""
    return _resolve("orient", cfg or EngineConfig(arch="stub_mobilenet_orient"))  # type: ignore[return-value]


def get_recognition_engine(vocab: str = DEFAULT_VOCAB, cfg: EngineConfig | None = None) -> RecognitionEngine:
    """Per-worker cached recognition session. Keyed on the vocab string
    itself — two vocabs of equal length must not collide (the session is
    bound to the label->char map, not just the class count)."""
    return _resolve("reco", cfg or EngineConfig(arch="stub_crnn"), vocab=vocab)  # type: ignore[return-value]
