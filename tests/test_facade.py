"""The package facade: every advertised symbol resolves (lazily) to a real
callable/object, and the lazy machinery doesn't shadow genuine errors."""

import pytest


def test_every_export_resolves():
    import char_ner_spark as C

    for name in C.__all__:
        obj = getattr(C, name)
        assert obj is not None, name
        if name != "__version__":
            assert callable(obj) or isinstance(obj, type), name


def test_unknown_attribute_raises():
    import char_ner_spark as C

    with pytest.raises(AttributeError, match="no attribute 'nope'"):
        C.nope


def test_dir_lists_facade():
    import char_ner_spark as C

    d = dir(C)
    assert "run_pipeline" in d and "read_table" in d and "link_pairs" in d
