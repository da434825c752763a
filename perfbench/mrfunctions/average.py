"""Grouped average over header-less ``breed,age`` CSV rows: partial
(sum, count) in the combiner, the division in the reducer."""

try:
    from counters import ACTIVE as _COUNT
except ImportError:  # loaded outside the benchmark
    _COUNT = None


def mapper(key, value):
    breed, age = value.split(",")
    if _COUNT is not None:
        _COUNT["map_pairs"].add(1)
    return [(breed, (int(age), 1))]


def combiner(key, values):
    if _COUNT is not None:
        _COUNT["combined_pairs"].add(1)
    return key, (sum(v[0] for v in values), sum(v[1] for v in values))


def reducer(key, values):
    return key, sum(v[0] for v in values) / sum(v[1] for v in values)
