"""Inputs are a function of the seed alone."""

import gen


def test_same_seed_same_transcripts():
    a = gen.TranscriptSource(3, 100).take(500, late_share=0.02)
    b = gen.TranscriptSource(3, 100).take(500, late_share=0.02)
    c = gen.TranscriptSource(4, 100).take(500, late_share=0.02)
    assert a.equals(b)
    assert not a.equals(c)


def test_turns_continue_across_chunks():
    src = gen.TranscriptSource(3, 10)
    first, second = src.take(200), src.take(200)
    seen = {}
    for t in (first, second):
        for conv, turn in zip(t.column("conv_id").to_pylist(), t.column("turn_idx").to_pylist()):
            assert turn == seen.get(conv, 0)
            seen[conv] = turn + 1


def test_json_plan_redelivers_only_delivered_ids():
    plan = gen.json_plan(9, n_objects=50, records_per_object=10, evolve_every=3,
                         multidoc_every=4, redeliver_share=0.2)
    delivered = set()
    redeliveries = 0
    for kind, i in plan["posts"]:
        if kind == "first":
            delivered.add(i)
        else:
            assert i in delivered
            redeliveries += 1
    assert 0 < redeliveries < len(plan["posts"])
    assert plan == gen.json_plan(9, 50, 10, 3, 4, 0.2)


def test_json_object_truth(tmp_path):
    plan = gen.json_plan(9, 4, 20, evolve_every=3, multidoc_every=4, redeliver_share=0)
    truth = gen.write_json_object(9, plan["objects"][3], str(tmp_path))
    assert truth["records"] == 20 and len(set(truth["ids"])) == 20
    assert "ext_3" in truth["fields"]


def test_json_field_lies_beyond_the_sample(tmp_path):
    plan = gen.json_plan(9, 4, 20, evolve_every=3, multidoc_every=0,
                         redeliver_share=0, beyond_sample=100)
    assert plan["objects"][1]["records"] == 20
    obj = plan["objects"][3]
    assert obj["records"] == 110 and obj["extra_from"] == 100
    truth = gen.write_json_object(9, obj, str(tmp_path))
    assert truth["records"] == 110 and "ext_3" in truth["fields"]
