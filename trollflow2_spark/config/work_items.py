"""Config expansion: product list -> flat work-item dicts.

The reference's logical planner is ``plist_iter`` + ``get_config_value``
(``trollflow2/dict_tools.py:26-99``): a depth-wise walk of
``areas -> products -> formats`` yielding one flattened config per leaf,
with *nearest-ancestor* inheritance (format level overrides product
overrides area overrides global overrides ``/common``), a default format
``{'format': 'tif', 'writer': 'geotiff'}`` when a product declares none,
and global ``formats`` propagated down independently (deep-copied) —
``launcher.py:276-300``, ``tests/test_launcher.py:199-204``.

The config is tiny (tens to thousands of leaves), so this is pure
dict-walking on the driver: the plans batch the leaves by priority and
prune them as plain Python. Nothing here touches Spark.
"""

from __future__ import annotations

import copy
from typing import Any, Iterator

DEFAULT_FORMAT = {"format": "tif", "writer": "geotiff"}
DEFAULT_PRIORITY = 999

# Keys that define the hierarchy rather than inheritable settings.
_STRUCTURAL = {"areas", "products", "formats", "workers", "crash_handlers"}


def get_config_value(config: dict, path: list, key: str, default: Any = None) -> Any:
    """Nearest-ancestor lookup: walk ``path`` from leaf to root, then
    ``/common``, then ``default``.

    Parity: ``/root/reference/trollflow2/dict_tools.py:80-99`` (tested by
    ``tests/test_dict_tools.py:195-243``). Reimplemented from the
    documented semantics.
    """
    node = config
    levels = [config]
    for step in path:
        if not isinstance(node, dict) or step not in node:
            break
        node = node[step]
        levels.append(node)
    for level in reversed(levels):
        if isinstance(level, dict) and key in level:
            return level[key]
    common = config.get("common", {})
    if isinstance(common, dict) and key in common:
        return common[key]
    return default


def _propagate_global_formats(plist: dict) -> dict:
    """Copy a global ``formats`` list into each product lacking one, as an
    independent deep copy (``launcher.py:276-300``)."""
    plist = copy.deepcopy(plist)
    global_formats = plist.get("formats")
    for area_cfg in (plist.get("areas") or {}).values():
        area_formats = (area_cfg or {}).get("formats", global_formats)
        for prod_cfg in (area_cfg or {}).get("products", {}).values():
            if prod_cfg is None:
                continue
            if "formats" not in prod_cfg and area_formats is not None:
                prod_cfg["formats"] = copy.deepcopy(area_formats)
    return plist


def flatten_product_list(
    product_list: dict, base_mda: dict | None = None
) -> Iterator[dict]:
    """Yield one flat config dict per (area x product x format) leaf.

    Inheritance: leaf-most wins — format > product > area > global >
    ``/common`` > hard default. A product with no formats gets
    ``DEFAULT_FORMAT``. Tuple product keys become list-valued ``product``;
    scalar keys become single-element lists. ``priority`` NULL -> kept
    NULL here (the batcher applies the 999 default so the raw config
    stays inspectable).

    Parity: ``/root/reference/trollflow2/dict_tools.py:26-62``.
    """
    cfg = product_list.get("product_list", product_list)
    cfg = _propagate_global_formats(cfg)
    common = product_list.get("common", {}) or {}

    def settings(level: dict | None) -> dict:
        if not isinstance(level, dict):
            return {}
        return {k: v for k, v in level.items() if k not in _STRUCTURAL}

    global_s = {**(base_mda or {}), **settings(common), **settings(cfg)}
    for area, area_cfg in (cfg.get("areas") or {}).items():
        area_s = {**global_s, "area": area, **settings(area_cfg)}
        for product, prod_cfg in ((area_cfg or {}).get("products") or {}).items():
            prod_key = list(product) if isinstance(product, tuple) else [product]
            prod_s = {**area_s, "product": prod_key, **settings(prod_cfg)}
            formats = ((prod_cfg or {}).get("formats")) or [dict(DEFAULT_FORMAT)]
            for fmt_cfg in formats:
                leaf = {**prod_s, **settings(fmt_cfg)}
                leaf.setdefault("format", DEFAULT_FORMAT["format"])
                leaf.setdefault("writer", DEFAULT_FORMAT["writer"])
                yield leaf
