"""User programs the mr_jobs workload submits, written the way Disco users
wrote them: plain map / combiner / reduce / stage functions.

They live in their own module so Spark's Python workers import them by
name (the benchmark puts the checkout root on ``PYTHONPATH``).
"""

from __future__ import annotations

import zlib

N_LABELS = 8


def word_map(line, params):
    for word in line.split():
        yield word, 1


def first_digit_partition(key, n, params):
    return int(key[0]) % n


def count_sorted(iter, out, params):
    """Sorted reduce: equal keys arrive consecutively (``sort=True``)."""
    current, count = None, 0
    for key, value in iter:
        if key != current:
            if current is not None:
                out.add(current, count)
            current, count = key, 0
        count += value
    if current is not None:
        out.add(current, count)


def frequency_map(entry, params):
    """(token, count) -> (count, 1): the second job of the chain."""
    _token, count = entry
    yield str(count), 1


def label_of(word: str) -> int:
    return zlib.crc32(word.encode()) % N_LABELS


def tokenize_stage(iface, state, label, inp):
    for text, _none in inp:
        for word in text.split():
            iface.output(label_of(word)).add(word, 1)


def sum_stage(iface, state, label, inp):
    buf: dict = {}
    for key, value in inp:
        buf[key] = buf.get(key, 0) + int(value)
    out = iface.output(label)
    for key, value in buf.items():
        out.add(key, value)
