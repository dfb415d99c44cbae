"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import curation
import dblp
import gen_corpus as C
import gen_dblp as G
import harness
import run

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def _dblp_snapshot(seed: int) -> bytes:
    """Every byte the DBLP generator produces for a seed: the pages, two
    deltas, and the ground truth derived from them."""
    gen = G.DblpGenerator(seed, 60)
    world = gen.world()
    parts = [G.render_page(world, r) for r in world.researchers]
    visible = G.visible_papers(world, world.reachable_pids())
    parts.append(repr(sorted(G.pub_row(p) for p in visible.values())))
    parts.append(repr(sorted(G.pair_counts(visible.values()).items(), key=str)))
    for _ in range(2):
        world, chosen = gen.delta(world)
        parts += [G.render_page(world, r) for r in chosen]
    return "".join(parts).encode()


def _corpus_snapshot(seed: int) -> bytes:
    c = C.generate(seed, 400)
    return repr((c.docs, c.clusters, sorted(c.junk), sorted(c.expected_survivors()))).encode()


def test_same_seed_same_inputs_and_truth():
    assert _dblp_snapshot(7) == _dblp_snapshot(7)
    assert _corpus_snapshot(7) == _corpus_snapshot(7)


def test_different_seed_different_inputs():
    assert _dblp_snapshot(7) != _dblp_snapshot(8)
    assert _corpus_snapshot(7) != _corpus_snapshot(8)


def test_generated_pages_cover_the_parser_branches():
    world = G.DblpGenerator(3, 60).world()
    tags = {p.tag for p in world.papers.values()}
    assert tags >= {t for t, _, _ in G.TAG_SHAPES} | {"www"}
    assert {len(p.ee) for p in world.papers.values()} == {0, 1, 2}
    assert any(p.venue_field is None for p in world.papers.values() if p.tag != "www")
    assert any(not p.wrapped for p in world.papers.values())
    assert any(not r.reachable for r in G.DblpGenerator(3, 400).world().researchers)


def _refresh_outputs(visible):
    pubs = [G.pub_row(p) for p in visible.values()]
    pairs = [(y, a, b, c) for (y, a, b), c in G.pair_counts(visible.values()).items()]
    n_bridge = sum(len(p.authors) for p in visible.values())
    return pubs, pairs, n_bridge, [(len(visible), len(visible))], len(visible)


def test_checker_flags_one_changed_pair_count():
    world = G.DblpGenerator(5, 60).world()
    visible = G.visible_papers(world, world.reachable_pids())
    pubs, pairs, n_bridge, vol, n_upd = _refresh_outputs(visible)
    assert dblp.refresh_problems(visible, pubs, pairs, n_bridge, vol, n_upd) == []
    y, a, b, c = pairs[0]
    pairs[0] = (y, a, b, c + 1)
    problems = dblp.refresh_problems(visible, pubs, pairs, n_bridge, vol, n_upd)
    assert len(problems) == 1 and problems[0].startswith("pair_counts")


def test_checker_flags_one_dropped_lookup_row():
    world = G.DblpGenerator(5, 60).world()
    truth = dblp.Truth(G.visible_papers(world, world.reachable_pids()))
    reqs = dblp.make_requests(5, world, truth, 400)
    req = next(r for r in reqs if r[0] == "i1" and len(truth.answer(r)) >= 2)
    good = (req, truth.answer(req), (0,))
    dropped = (req, truth.answer(req)[1:], (0,))
    assert dblp.wrong_reads([good, dropped], [truth]) == [dropped]


def test_checker_flags_a_kept_planted_duplicate():
    corpus = C.generate(11, 400)
    got = {d: C.split_of(d) for d in corpus.expected_survivors()}
    assert curation.curation_problems(corpus, got) == []
    members = next(m for m in corpus.clusters if len(m) >= 2)
    dup = max(members)
    problems = curation.curation_problems(corpus, {**got, dup: C.split_of(dup)})
    assert len(problems) == 1 and str(dup) in problems[0]


def test_checker_flags_a_stale_read_after_a_delta():
    gen = G.DblpGenerator(9, 60)
    world = gen.world()
    before = G.visible_papers(world, world.reachable_pids())
    nxt, chosen = gen.delta(world)
    new_key = next(k for k in nxt.papers.keys() - world.papers.keys())
    p = nxt.papers[new_key]
    after = {**before, new_key: p}
    states = [dblp.Truth(before), dblp.Truth(after)]
    req = ("i1", (p.year, p.category, p.pids[0]))
    stale = (req, states[0].answer(req), (1,))
    assert dblp.wrong_reads([stale], states) == [stale]
    # a read that overlapped the swap may see either state, but not neither
    either = (req, states[0].answer(req), (0, 1))
    torn = (req, ["x"], (0, 1))
    assert dblp.wrong_reads([either, torn], states) == [torn]


def test_read_states_follow_the_two_swaps():
    # publications swap: counts 1-2; pair-count swap: counts 3-4
    assert dblp.read_states("q1", 0, 0) == (0,)
    assert dblp.read_states("q1", 0, 1) == (0, 1)
    assert dblp.read_states("q1", 1, 2) == (0, 1)
    assert dblp.read_states("q1", 2, 4) == (1,)
    assert dblp.read_states("i2", 2, 2) == (0,)
    assert dblp.read_states("i2", 2, 3) == (0, 1)
    assert dblp.read_states("i2", 4, 4) == (1,)
    # only a vanished file excuses a read that overlapped a swap
    assert dblp.missing_file(Exception("[FAILED_READ_FILE.FILE_NOT_EXIST] part-0")) == "FILE_NOT_EXIST"
    assert dblp.missing_file(Exception("[DIVIDE_BY_ZERO]")) == ""


def test_planted_near_duplicates_stay_near():
    """Planted members are identical after normalisation or differ by one
    appended word; unrelated documents share no shingle."""
    corpus = C.generate(2, 600)
    text = dict(corpus.docs)

    def shingles(t):
        w = " ".join(t.lower().split()).split(" ")
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    for members in corpus.clusters:
        base = shingles(text[min(members)])
        for d in members:
            s = shingles(text[d])
            assert len(base & s) / len(base | s) >= 0.98
    singles = [d for d, _ in corpus.docs if d not in {m for c in corpus.clusters for m in c}]
    a, b = shingles(text[singles[0]]), shingles(text[singles[1]])
    assert not a & b


def test_emitted_metric_names_match_benchmark_json():
    with open(BENCHMARK) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_paper_model_is_immutable_across_deltas():
    """A delta never edits a paper in place, so insert-only upsert keeps
    the stored row equal to the model's."""
    gen = G.DblpGenerator(4, 60)
    world = gen.world()
    nxt, _ = gen.delta(world)
    for k in world.papers.keys() & nxt.papers.keys():
        assert world.papers[k] == nxt.papers[k]


def test_stop_children_ends_grandchildren_and_reaps_children():
    # a child that starts a grandchild and outlives its handle
    subprocess.Popen([sys.executable, "-c",
                      "import subprocess, time; subprocess.Popen(['sleep', '60']); time.sleep(60)"])
    for _ in range(100):
        if len(harness.process_tree(os.getpid())) >= 3:
            break
        time.sleep(0.05)
    assert len(harness.process_tree(os.getpid())) >= 3
    harness.stop_children()
    assert harness.process_tree(os.getpid()) == [os.getpid()]
