"""WAV codec (gooselite.wav): round trips, chunk walking, and the
totality of read_wav_safe over hostile bytes."""

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gooselite.wav import read_wav, read_wav_safe, write_wav


def test_roundtrip_mono_16bit():
    samples = [((i * 104729) % 65536) - 32768 for i in range(257)]
    got = read_wav(write_wav(samples, 16000, 1))
    assert got.sample_rate == 16000 and got.n_channels == 1
    assert got.bits == 16 and got.samples == samples


def test_roundtrip_stereo_interleaved():
    samples = [(-1) ** i * (i % 32768) for i in range(300)]
    got = read_wav(write_wav(samples, 44100, 2))
    assert got.n_channels == 2 and got.samples == samples


def test_roundtrip_8bit_unsigned():
    samples = [i % 256 for i in range(101 * 2)]
    got = read_wav(write_wav(samples, 8000, 2, bits=8))
    assert got.bits == 8 and got.samples == samples


def test_extra_chunks_skipped_and_pad_bytes_honored():
    samples = [5, -5, 32767, -32768, 0]
    wav = write_wav(samples, 22050, 1, extra_chunks=True)
    assert b"LIST" in wav and b"junk" in wav
    got = read_wav(wav)
    assert got.samples == samples and got.sample_rate == 22050


def test_empty_signal_roundtrips():
    got = read_wav(write_wav([], 8000, 1))
    assert got.samples == []


def test_bad_magic_rejected():
    wav = write_wav([1, 2], 8000, 1)
    assert read_wav_safe(b"RIFX" + wav[4:]) is None
    assert read_wav_safe(wav[:8] + b"EVAW" + wav[12:]) is None
    with pytest.raises(ValueError):
        read_wav(b"")


def test_truncated_data_chunk_rejected():
    wav = write_wav(list(range(64)), 8000, 1)
    assert read_wav_safe(wav[: len(wav) - 10]) is None


def test_non_pcm_format_tag_rejected():
    wav = bytearray(write_wav([1, 2], 8000, 1))
    at = wav.index(b"fmt ") + 8
    struct.pack_into("<H", wav, at, 3)  # IEEE float tag
    assert read_wav_safe(bytes(wav)) is None


def test_inconsistent_block_align_rejected():
    wav = bytearray(write_wav([1, 2], 8000, 1))
    at = wav.index(b"fmt ") + 8 + 12  # block_align field
    struct.pack_into("<H", wav, at, 7)
    assert read_wav_safe(bytes(wav)) is None


def test_missing_data_chunk_rejected():
    wav = write_wav([1, 2, 3, 4], 8000, 1)
    at = wav.index(b"data")
    assert read_wav_safe(wav[:at]) is None


def test_writer_rejects_bad_geometry():
    with pytest.raises(ValueError):
        write_wav([1, 2, 3], 8000, 2)  # not a multiple of channels
    with pytest.raises(ValueError):
        write_wav([1], 8000, 1, bits=24)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=220))
def test_read_wav_safe_total_over_arbitrary_bytes(b):
    got = read_wav_safe(b)
    assert got is None or got.n_channels >= 1


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 2**31), st.data())
def test_read_wav_safe_total_over_mutated_valid_files(seed, data):
    import random

    rnd = random.Random(seed)
    samples = [rnd.randint(-32768, 32767) for _ in range(rnd.randint(0, 40) * 2)]
    wav = bytearray(write_wav(samples, 8000, 2, extra_chunks=True))
    for _ in range(rnd.randint(1, 6)):
        wav[data.draw(st.integers(0, len(wav) - 1))] = data.draw(st.integers(0, 255))
    read_wav_safe(bytes(wav))  # must not raise; value unspecified
