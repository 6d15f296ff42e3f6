"""The benchmark's traced run (``perfbench/run.py --trace 1``) wraps the
program's layer entry points by name (``perfbench.trace.LAYERS``) and
fails on a name that no longer exists. A rename in the program fails
here instead."""


def test_every_trace_layer_spec_resolves():
    from perfbench import trace

    broken = []
    for specs in trace.LAYERS.values():
        for spec in specs:
            try:
                targets = trace._targets(spec)
            except (ImportError, AttributeError) as e:
                broken.append(f"{spec}: {e!r}")
                continue
            if not targets:
                broken.append(f"{spec}: no public function")
            for owner, name in targets:
                if not callable(vars(owner).get(name)):
                    broken.append(f"{spec}: {name} missing on {owner!r}")
    assert not broken, broken
