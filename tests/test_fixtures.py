"""rcspark.fixtures invariants the crawl tests rely on."""

from __future__ import annotations

import pytest

from rcspark.fixtures import make_fixture
from rcspark.urlnorm import canon_py


@pytest.mark.parametrize("seed", range(40))
def test_seed_pages_are_plain_200s(seed):
    """Seed pages are forced to 200; a page first drawn as a 301 must not
    keep its redirect target (7 of these 40 seeds draw one)."""
    fx = make_fixture(n_hosts=6, urls_per_host=40, n_seeds=6, seed=seed)
    web = fx.web.set_index("url_canon")
    for url in fx.seeds["url"]:
        page = web.loc[canon_py(url)]
        assert page["status"] == 200
        assert page["redirect_to"] is None
