"""Both branches of the capability-gated media decoder (multimodal.py):
the byte-level stub path that the q50/q133 oracles check, and the
PIL self-upgrade path — simulated with a fake PIL module because the CI
image has no imaging libs (the round-3 verdict's 'stub raises only when
no decoder exists' contract)."""

from __future__ import annotations

import contextlib

import pytest

from kinesis_sample_spark.queries import multimodal


def test_byte_features_for_non_image_formats():
    feats = multimodal.decode_media(b"hello world!", "fake/text")
    assert feats == {
        "byte_len": 12,
        "checksum": sum(b"hello world!") % 997,
        "head_hex": b"hello wo".hex(),
    }


def test_image_without_decoder_raises_documented_stub(monkeypatch):
    monkeypatch.setattr(multimodal, "HAVE_PIL", False)
    with pytest.raises(NotImplementedError, match="no image decoder"):
        multimodal.decode_media(b"\x89PNG....", "image/png")
    # non-image formats keep working in the same environment
    assert multimodal.decode_media(b"xy", "audio/wav")["byte_len"] == 2


def test_image_without_decoder_degrades_when_not_strict(monkeypatch):
    """strict=False: external-caller compatibility path — image payloads
    fall back to byte-only features (no px_* keys) instead of raising."""
    monkeypatch.setattr(multimodal, "HAVE_PIL", False)
    feats = multimodal.decode_media(b"\x89PNG....", "image/png", strict=False)
    assert feats["byte_len"] == 8
    assert not any(k.startswith("px_") for k in feats)


class _FakeImage:
    width, height, mode = 640, 480, "RGB"

    @classmethod
    @contextlib.contextmanager
    def open(cls, fp):
        yield cls()


def test_image_with_decoder_self_upgrades(monkeypatch):
    """When a PIL-compatible module is importable, the SAME call returns
    pixel features on top of the byte features — no code change needed."""
    monkeypatch.setattr(multimodal, "HAVE_PIL", True)
    monkeypatch.setattr(multimodal, "Image", _FakeImage)
    feats = multimodal.decode_media(b"\x89PNG....", "image/png")
    assert feats["px_width"] == 640
    assert feats["px_height"] == 480
    assert feats["px_mode"] == "RGB"
    assert feats["byte_len"] == 8
