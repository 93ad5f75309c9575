"""Seeded request streams: deterministic per seed, same multiset across
seeds for the registry workloads."""

from collections import Counter

from perfbench import workloads as W


def test_same_seed_same_sequence():
    for p in range(3):
        assert W.interactive_pass(7, p) == W.interactive_pass(7, p)


def test_bank_same_seed_same_sequence():
    for p in range(3):
        assert W.bank_pass(7, p) == W.bank_pass(7, p)


def test_seeds_share_multiset_in_other_order():
    a = W.interactive_pass(1, 0)
    b = W.interactive_pass(2, 0)
    assert Counter(a) == Counter(b) == Counter(W.INTERACTIVE)
    assert a != b


def test_bank_seeds_share_op_mix():
    def mix(seed):
        return Counter((op.kind, op.bank) for op in W.bank_pass(seed, 0))

    assert mix(1) == mix(2)
    assert W.bank_pass(1, 0) != W.bank_pass(2, 0)


def test_bank_upsert_share_and_span_shape():
    ops = W.bank_pass(3, 0)
    assert sum(op.is_write for op in ops) * 12 == len(ops)
    # each block opens with its wide read; the narrow reads sit inside it
    for start in (0, len(ops) // 2):
        wide = ops[start].args()
        assert ops[start].kind == "read" and set(wide) == {"starttime", "endtime"}
        block = ops[start + 1:start + len(ops) // 2]
        narrow = [
            op.args() for op in block
            if op.kind == "read" and set(op.args()) == {"starttime", "endtime"}
        ]
        assert len(narrow) == W.NARROW_PER_BLOCK
        for kw in narrow:
            assert wide["starttime"] <= kw["starttime"] < kw["endtime"] <= wide["endtime"]


def test_bank_warmup_covers_every_shape_of_a_pass():
    def shape(op):
        return (op.kind, op.bank, tuple(k for k, _ in op.kwargs))

    warm = W.bank_warmup()
    assert {shape(op) for op in warm} == {shape(op) for op in W.bank_pass(5, 0)}
    assert len(warm) < len(W.bank_pass(5, 0))


def test_pass_count_depends_only_on_seconds():
    assert W.passes_for(0.5) == 1
    assert W.passes_for(10 * W.SECONDS_PER_PASS) == 10
