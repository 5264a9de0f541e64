"""The user map/reduce implementations the mapreduce workload hands to the
engine. Spark's Python workers import this module to unpickle them, so it
imports nothing: a heavy import here would be billed to the engine."""


def position_pairs(doc_id, text):
    for i, w in enumerate(text.split()):
        yield [w, i % 4], [doc_id, i]


def count_words(text):
    for w in text.split():
        yield w, 1


def add(key, a, b):
    return a + b


class WordCount:
    def map(self, text):
        return count_words(text)

    def reduce(self, key, a, b):
        return a + b


class PositionPairs:
    def map(self, doc_id, text):
        return position_pairs(doc_id, text)
