"""Real-encoder seam — adapter code that is RUNNABLE today.

GlinerSparkModel's scoring surface needs exactly two artifacts per batch:
span representations (S, D) and a frozen label-prompt matrix (C, D). The
encoder that produces per-word vectors is a pluggable BACKEND; everything
downstream of the word vectors (mean-pooled label prompts, SpanMarkerV0,
matmul/sigmoid scoring) is implemented HERE in numpy and unit-tested —
bit-identical to the oracle-gated dense path when given the same word
vectors (tests/test_encoders_seam.py).

Backend protocol (one method):
    word_vectors(words: list[str]) -> np.ndarray (len(words), D)

Shipped backends:
- DenseCheckpointBackend — hash-bucket embedding lookup from a loadable
  npz DenseCheckpoint (core/dense.py); torch-free, runs in this container,
  and is exactly the encoder the `kg_mentions_dense` gate verifies.
- HFTransformerBackend — HuggingFace transformer word vectors
  (first-subtoken pooling, the reference token_rep_layer default —
  gliner/modeling/encoder.py:868-879). Construction is import-gated:
  torch/transformers are not in this container, so only this class raises
  ImportError; every line downstream of it is exercised by tests through
  the protocol.
"""

from __future__ import annotations

from typing import List, Sequence

import numpy as np

from gliner_spark.core.decode import sigmoid
from gliner_spark.core.heads import MarkerV0Weights, span_marker_v0
from gliner_spark.core.spans import enumerate_spans
from gliner_spark.core.tokenization import tokenize_with_offsets


class DenseCheckpointBackend:
    """Torch-free backend: per-word vectors from a DenseCheckpoint's
    hash-bucket embedding table (core/dense.encode_tokens)."""

    def __init__(self, ckpt):
        self.ckpt = ckpt

    def word_vectors(self, words: List[str]) -> np.ndarray:
        from gliner_spark.core.dense import encode_tokens

        return encode_tokens(list(words), self.ckpt)


class HFTransformerBackend:
    """HuggingFace transformer backend (requires torch + transformers).

    Word vector = FIRST subtoken's hidden state (reference token_rep_layer
    subtoken pooling default). Built on the driver; on executors ship the
    model directory via --py-files/SparkFiles and construct lazily per
    python worker (same pattern as core/dense.load_checkpoint_sparkfile).
    """

    def __init__(self, model_name_or_path: str, device: str = "cpu"):
        try:
            import torch  # noqa: F401
            from transformers import AutoModel, AutoTokenizer
        except ImportError as e:  # pragma: no cover - not in this container
            raise ImportError(
                "HFTransformerBackend needs torch+transformers; this "
                "container ships neither. Use DenseCheckpointBackend for "
                "torch-free runs, or install torch on the cluster image."
            ) from e
        # word_vectors() relies on enc.word_ids(), which only fast (Rust)
        # tokenizers provide — fail at construction with a clear error
        # instead of a ValueError on first executor batch
        self.tokenizer = AutoTokenizer.from_pretrained(
            model_name_or_path, use_fast=True
        )
        if not getattr(self.tokenizer, "is_fast", False):
            raise ValueError(
                f"{model_name_or_path!r} resolved to a slow tokenizer; "
                "HFTransformerBackend needs a fast tokenizer (word_ids "
                "support). Convert the checkpoint or supply tokenizer.json."
            )
        self.model = AutoModel.from_pretrained(model_name_or_path).to(device)
        self.model.eval()
        self.device = device

    def word_vectors(self, words: List[str]) -> np.ndarray:  # pragma: no cover
        import torch

        enc = self.tokenizer(
            list(words), is_split_into_words=True, return_tensors="pt",
            truncation=True,
        )
        with torch.no_grad():
            hidden = self.model(
                **{k: v.to(self.device) for k, v in enc.items()}
            ).last_hidden_state[0].cpu().numpy()
        first = {}
        for pos, wid in enumerate(enc.word_ids(0)):
            if wid is not None and wid not in first:
                first[wid] = pos
        # words truncated away (doc longer than the encoder's max length)
        # or tokenized to zero subtokens get a zero vector instead of a
        # KeyError crashing the executor batch
        out = np.zeros((len(words), hidden.shape[1]), dtype=hidden.dtype)
        for i in range(len(words)):
            pos = first.get(i)
            if pos is not None:
                out[i] = hidden[pos]
        return out


class SpanEncoder:
    """Backend-agnostic scoring adapter: word vectors -> mean-pooled label
    prompts + SpanMarkerV0 span reps -> matmul/sigmoid span-probability
    grid. This is the seam a real trained GLiNER drops into: swap the
    backend, keep every downstream stage (and its tests/oracles)."""

    def __init__(self, backend):
        self.backend = backend

    def encode_labels(self, labels: Sequence[str]) -> np.ndarray:
        """(C, D) label prompt matrix = mean of each label text's word
        vectors (reference label-encoder mean pooling, base.py:83-121).
        Driver-side, once; broadcast the result."""
        if not labels:
            raise ValueError("encode_labels: labels must be non-empty")
        rows = []
        for lab in labels:
            words = lab.lower().split()
            if not words:
                rows.append(None)
                continue
            rows.append(self.backend.word_vectors(words).mean(axis=0))
        if all(r is None for r in rows):
            raise ValueError(
                f"encode_labels: every label is empty/whitespace: {labels!r}"
            )
        dim = next(r.shape[0] for r in rows if r is not None)
        return np.stack(
            [r if r is not None else np.zeros(dim) for r in rows]
        )

    def span_reps(
        self, tokens: List[str], span_idx: np.ndarray, marker: MarkerV0Weights
    ) -> np.ndarray:
        """(S, D) SpanMarkerV0 reps over the backend's word vectors
        (reference span_rep.py:464-511 via the numpy port in core/heads)."""
        h = self.backend.word_vectors(tokens)
        return span_marker_v0(h, span_idx, marker)

    def score_text(
        self,
        text: str,
        marker: MarkerV0Weights,
        label_matrix: np.ndarray,
        scale: float,
        bias: float,
        max_width: int,
    ):
        """Full forward pass for one doc: (span_idx (S,2), valid (S,),
        probs (S,C)) — the same contract as core/dense.score_doc_dense."""
        tokens, _, _ = tokenize_with_offsets(text)
        if not tokens:
            return (
                np.zeros((0, 2), np.int64),
                np.zeros(0, bool),
                np.zeros((0, label_matrix.shape[0])),
            )
        span_idx, valid = enumerate_spans(len(tokens), max_width)
        rep = self.span_reps(tokens, span_idx, marker)
        logits = (rep @ label_matrix.T - bias) * scale
        return span_idx, valid, sigmoid(logits)


class OnnxSpanEncoder:
    """ONNX Runtime backend stub (reference model.py:1493-1556 exports;
    CPU scoring inside executors without torch). Same protocol: implement
    word_vectors() over an ORT session and wrap in SpanEncoder."""

    def __init__(self, onnx_path: str):
        try:
            import onnxruntime  # noqa: F401
        except ImportError as e:  # pragma: no cover
            raise ImportError("OnnxSpanEncoder needs onnxruntime.") from e
        raise NotImplementedError(  # pragma: no cover
            "load the exported session and implement word_vectors(); "
            "SpanEncoder provides everything downstream."
        )
