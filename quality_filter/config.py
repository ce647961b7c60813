"""Frozen pipeline configuration.

The closed-enum + frozen-config pattern follows the reference's
``Preprocessing{YAHOO,SIMPLE}`` (opennsfw2/_image.py:15-17):
a small, closed set of switches that select exactly-specified pipeline
variants.  (The reference's ``Aggregation`` enum is a per-call argument
here: ``operators.windows.AGG_FNS``.)  The config is
serialized to ``rules.json`` and shipped to executors as a broadcast
artifact (never downloaded at task time — the anti-pattern the reference's
Dockerfile pre-warm works around, /root/reference/Dockerfile:28-30).
"""

from __future__ import annotations

import dataclasses
import json
import os
from dataclasses import dataclass, field
from typing import Mapping, Sequence

# Where built artifacts (rules.json, langid.npz, lm.npz) live by default.
DEFAULT_ARTIFACT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "artifacts")

# Closed enums (kept as strings so they survive JSON + Spark columns).
PROFILES = ("FULL", "FAST")          # FAST skips the LM-perplexity stage


@dataclass(frozen=True)
class PiiRule:
    """One scrub step: applied in declared order, frozen (order matters
    because replacements can mask later patterns)."""

    name: str
    pattern: str
    replacement: str


@dataclass(frozen=True)
class RuleConfig:
    """All thresholds, weights, lexicons and regexes for the pipeline.

    Every keep/drop decision is a pure function of (row, RuleConfig,
    model artifacts) — no hidden state, so results are identical at any
    parallelism level.
    """

    profile: str = "FULL"

    # --- heuristic (Gopher/C4-style) rule thresholds ------------------
    min_chars: int = 80
    max_chars: int = 100_000
    min_words: int = 12
    min_stopword_ratio: float = 0.06
    max_symbol_ratio: float = 0.12
    # union of per-language stopword heads; populated by the artifact
    # builder from corpus.STOPWORDS and frozen in rules.json
    stopwords: tuple[str, ...] = ()
    min_distinct_ratio: float = 0.35          # distinct tokens / tokens
    max_mean_word_len: float = 14.0
    min_mean_word_len: float = 1.0            # zh: single-char tokens

    # --- model-stage thresholds ---------------------------------------
    max_ppl: float = 180.0                    # char-5-gram LM perplexity
    lid_conf_threshold: float = 0.60
    allowed_langs: tuple[str, ...] = ("en", "de", "fr", "es", "zh")

    # --- quality score: calibrated sigmoid over features ---------------
    # quality_score = sigmoid(bias + sum(w[f] * feature[f]))
    quality_weights: Mapping[str, float] = field(
        default_factory=lambda: {
            "stopword_ratio": 9.0,
            "symbol_ratio": -22.0,
            "distinct_ratio": 5.0,
            "length_norm": 1.2,
            "ppl_norm": -2.0,
        }
    )
    quality_bias: float = -1.2
    quality_threshold: float = 0.5

    # --- toxicity: lexicon density → calibrated sigmoid -----------------
    # tox_score = sigmoid(tox_a * tox_density + tox_b); gate at tox_threshold
    # (the `nsfw_probability >= 0.8` gate analog,
    #  /root/reference/opennsfw2/_inference.py:224)
    tox_lexicon: tuple[str, ...] = (
        "frakk", "grotspawn", "smegrot", "drekwad", "sleemo",
        "poodoo", "karkface", "blasted",
    )
    tox_a: float = 120.0
    tox_b: float = -4.0
    tox_threshold: float = 0.8

    # --- PII scrub chain (frozen order: email → phone → ip) -------------
    pii_rules: tuple[PiiRule, ...] = (
        PiiRule("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
        # (?U) = Java UNICODE_CHARACTER_CLASS (no-op in Python re): \d and
        # \b then mean Unicode digits / word chars in BOTH engines — without
        # it, Java's ASCII-only \d misses Arabic-Indic and fullwidth phone
        # numbers that the Python oracle scrubs (engine-parity mandate)
        PiiRule("phone", r"(?U)(\+\d{1,2}[ -])?\(?\d{3}\)?[ -.]\d{3}[ -.]\d{4}", "<PHONE>"),
        PiiRule("ip", r"(?U)\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    )

    # --- ordered-stream (video-path analog) parameters ------------------
    frame_interval: int = 8                   # decimation: score every k-th row
    aggregation_size: int = 4                 # tumbling window size (rows)

    # ---------------------------------------------------------------------
    def __post_init__(self) -> None:
        if self.profile not in PROFILES:
            raise ValueError(f"profile must be one of {PROFILES}, got {self.profile!r}")

    def to_json(self) -> str:
        d = dataclasses.asdict(self)
        d["pii_rules"] = [dataclasses.asdict(r) for r in self.pii_rules]
        d["quality_weights"] = dict(self.quality_weights)
        return json.dumps(d, indent=2, sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "RuleConfig":
        d = json.loads(s)
        d["pii_rules"] = tuple(PiiRule(**r) for r in d.get("pii_rules", []))
        for k in ("tox_lexicon", "allowed_langs", "stopwords"):
            if k in d:
                d[k] = tuple(d[k])
        return cls(**d)

    def save(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            f.write(self.to_json())


def load_config(artifact_dir: str | None = None) -> RuleConfig:
    """Load rules.json from the artifact dir; falls back to the
    spark-submit --files staging dir (SparkFiles), then to defaults.

    The SparkFiles fallback mirrors operators/score.py's artifact
    resolution: on a cluster the artifact dir baked into the code does
    not exist — rules.json arrives via ``--files`` and is localized next
    to the job (driver and executors both)."""
    artifact_dir = artifact_dir or DEFAULT_ARTIFACT_DIR
    path = os.path.join(artifact_dir, "rules.json")
    if not os.path.exists(path):
        try:
            from pyspark import SparkFiles

            cand = os.path.join(SparkFiles.getRootDirectory(), "rules.json")
            if os.path.exists(cand):
                path = cand
        except Exception:
            pass
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            return RuleConfig.from_json(f.read())
    return RuleConfig()
