from trollflow2_spark.config.product_list import (  # noqa: F401
    read_product_list,
    expand_aliases,
    tuple_constructor,
)
from trollflow2_spark.config.work_items import (  # noqa: F401
    flatten_product_list,
    get_config_value,
)
