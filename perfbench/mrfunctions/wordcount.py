"""Word count over ``doc<id>\t<words>`` lines (the reference's
counting_words example, with a combiner)."""

try:
    from counters import ACTIVE as _COUNT
except ImportError:  # loaded outside the benchmark
    _COUNT = None


def mapper(key, value):
    pairs = [(w, 1) for w in value.split("\t", 1)[-1].split()]
    if _COUNT is not None:
        _COUNT["map_pairs"].add(len(pairs))
    return pairs


def combiner(key, values):
    if _COUNT is not None:
        _COUNT["combined_pairs"].add(1)
    return key, sum(values)


def reducer(key, values):
    return key, sum(values)
