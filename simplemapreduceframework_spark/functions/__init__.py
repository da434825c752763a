from .scale import (  # noqa: F401
    BROADCAST_ROW_LIMIT,
    broadcast_dim,
    table_rows,
)
from .columns import (  # noqa: F401
    dec2,
    hex32,
    money,
    one_minus_rate,
    one_plus_rate,
    rate,
    tokens_regex,
    tokens_ws,
)
