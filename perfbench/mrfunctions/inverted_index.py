"""Inverted index: word -> (number of documents, first three doc ids).
Run with ``sort_values=True``, so the reducer sees each word's doc ids
in ascending order."""

try:
    from counters import ACTIVE as _COUNT
except ImportError:  # loaded outside the benchmark
    _COUNT = None


def mapper(key, value):
    doc, _, text = value.partition("\t")
    doc_id = int(doc[3:])
    pairs = [(w, doc_id) for w in set(text.split())]
    if _COUNT is not None:
        _COUNT["map_pairs"].add(len(pairs))
        _COUNT["combined_pairs"].add(len(pairs))
    return pairs


def reducer(key, values):
    return key, (len(values), values[:3])
